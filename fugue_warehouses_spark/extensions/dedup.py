"""Deduplication operators for large-scale corpus pipelines.

North-star extensions (SURVEY.md §2.E): exact, fingerprint, MinHash+LSH,
SimHash, and n-gram-Jaccard dedup over a documents table. Design rules
for the 100 TB target:

- signatures/shingles/hashes are pure Spark expressions (xxhash64,
  transform/aggregate over arrays) — JVM-side, no Python UDFs;
- candidate generation is LSH band-bucketing: one shuffle on
  (band, bucket) instead of an O(n^2) cross join;
- pair verification (exact Jaccard / Hamming) only runs on bucket
  collisions;
- connected components is iterative label propagation over the pair
  graph (joins + aggregations only — no driver-side union-find), the
  standard large-graph approach;
- every stage is deterministic (fixed hash seeds via lit() salts), so
  results are reproducible run-to-run.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fugue_warehouses_spark.functions.text import (
    char_ngrams,
    fingerprint,
    token_count,
    tokens,
)

# ---------------- exact -------------------------------------------


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Whole-row (or subset-keyed) exact dedup — hash-shuffle groupBy."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def fingerprint_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one row per normalized-text fingerprint (md5), choosing the
    min/max id as representative. One shuffle on the fingerprint."""
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    w = Window.partitionBy(fingerprint(text_col)).orderBy(order)
    return (
        df.withColumn("__wf_rn", F.row_number().over(w))
        .filter(F.col("__wf_rn") == 1)
        .drop("__wf_rn")
    )


# ---------------- jaccard / shingles ------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array<string> columns (distinct sets)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def _round_eps(round_digits: int | None) -> float:
    """Half-ulp slack for a threshold cut made on a value rounded to
    ``round_digits``: the smallest raw value the rounded cut can admit
    is ``threshold - 0.5 * 10**-round_digits``."""
    return 0.0 if round_digits is None else 0.5 * 10.0 ** (-round_digits)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    round_digits: int | None = 6,
) -> DataFrame:
    """All pairs with character-n-gram Jaccard >= threshold.

    ``block_col`` bounds the join (pairs only form within a block —
    e.g. a source or an LSH bucket); without it this is a cross join
    and only sane on small frames. Returns (id_a, id_b, jaccard_sim).

    ``jaccard_sim`` is rounded to ``round_digits`` BEFORE the
    threshold cut, so the cut lands on the same value every engine /
    float path computes (a raw-value cut lets a pair within half an
    ulp of the threshold flip between engines); pass ``None`` to cut
    on the raw ratio.
    """
    # Exchange barrier: materialize the shingle arrays before the self
    # join — otherwise CollapseProject inlines char_ngrams into the join
    # output and every *pair* re-shingles both documents.
    par = df.sparkSession.sparkContext.defaultParallelism
    grams = df.select(
        F.col(id_col), *( [F.col(block_col)] if block_col else [] ),
        char_ngrams(text_col, n).alias("__grams"),
    ).repartition(par, F.col(id_col))
    left = grams.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_a"),
        F.col("__grams").alias("__ga"),
    )
    right = grams.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_b"),
        F.col("__grams").alias("__gb"),
    )
    joined = (
        left.join(right, on=block_col, how="inner")
        if block_col
        else left.crossJoin(right)
    )
    # size prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs with
    # mismatched set sizes can't reach the threshold — skip the O(n)
    # intersection for them (large fraction of pairs at typical corpora)
    na, nb = F.size(F.col("__ga")), F.size(F.col("__gb"))
    inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb"))).cast("double")
    union = (na + nb).cast("double") - inter
    sim = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    # the size prefilter bounds the RAW ratio; relax it by the rounding
    # epsilon so a boundary pair the rounded cut admits can't be lost
    pre_thr = threshold - _round_eps(round_digits)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least(na, nb) >= F.lit(pre_thr) * F.greatest(na, nb))
        .withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# ---------------- MinHash + LSH -----------------------------------


def minhash_signature(
    grams_col: Column | str, num_hashes: int = 64
) -> Column:
    """array<long> MinHash signature over a *materialized* shingle-array
    column. hash_i(s) = xxhash64(i, s) with the hash index as salt — a
    cheap deterministic family; min over the shingle set per index.

    IMPORTANT: the caller must place a shuffle (``repartition``) or a
    cache between the shingling projection and this one. Catalyst's
    CollapseProject merges adjacent projections, so merely assigning
    the shingles to a column does NOT materialize them — the collapsed
    plan re-evaluates the whole shingling expression inside each of the
    ``num_hashes`` lambdas (measured: 2.2s -> 200s at sf0.1 when the
    barrier is missing, compounded by a single-partition source scan
    since higher-order functions are interpreted, not codegen'd)."""
    grams = F.col(grams_col) if isinstance(grams_col, str) else grams_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(grams, lambda g: F.xxhash64(i, g))),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "__sig",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    expected_len: int | None = None,
) -> DataFrame:
    """MinHash-LSH banding: split the signature into ``bands`` slices of
    ``rows_per_band``; docs colliding on any band slice become a pair.

    One explode (xN bands) + one shuffle on (band, bucket-hash). Bucket
    join is self-join grouped by bucket; output pairs are distinct.

    ``max_bucket_size`` is the mega-bucket guard for real corpora: a
    bucket of k docs yields k^2/2 candidate pairs, so one boilerplate
    bucket of 10^6 near-identical docs would explode into 5*10^11
    pairs. Capping drops buckets above the limit BEFORE the self-join
    (one extra aggregation on the already-shuffled key, no extra
    shuffle). Trade-off: pairs that only collide in a dropped bucket
    are missed — with multi-band signatures near-dups keep many other
    chances, and degenerate boilerplate is usually better handled by
    exact dedup first. Default off (exact recall preserved).
    """
    banded = _cap_buckets(
        _band_buckets(
            df, id_col, bands, rows_per_band, sig_col,
            expected_len=expected_len,
        ),
        max_bucket_size,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bucket"], how="inner")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def _cap_buckets(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Mega-bucket guard shared by both LSH paths: drop (band, bucket)
    groups above the cap BEFORE the self-join (one window over the
    already-shuffled key, no extra shuffle). See lsh_candidate_pairs'
    docstring for the recall trade-off."""
    if max_bucket_size is None:
        return banded
    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def _shingle_minhash_numpy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle: int,
    seed: int = 42,
) -> DataFrame:
    """(id, __grams array<long>, __sig array<long>) via one vectorized
    Arrow batch pass — the scale path for MinHash signatures.

    Expression-level minhash (64 interpreted higher-order lambdas over a
    ~300-element array per row) measured ~35s at sf0.1 on 32 cores; this
    numpy path does the same work in <1s per core-batch:

    - shingles: byte sliding-window view, base-257 polynomial encoding —
      injective for shingle <= 7 (257^7 < 2^64), so 'hashed shingle set'
      IS the shingle set and exact Jaccard over it equals string Jaccard;
    - signature: multiply-add permutation family (a_i * g + b_i mod 2^64,
      odd a_i), min per i — one (num_hashes x n_grams) broadcasted min.

    Seeded rng for the (a, b) family: deterministic across executors and
    runs; no RNG state is shipped.
    """
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql import types as T

    rng = np.random.default_rng(seed)
    A = (rng.integers(1, 2**62, size=num_hashes, dtype=np.uint64) << 1) | 1
    B = rng.integers(0, 2**62, size=num_hashes, dtype=np.uint64)
    POW = (np.uint64(257) ** np.arange(shingle - 1, -1, -1, dtype=np.uint64))

    # id dtype propagated from the input, not assumed int64 — string
    # or decimal doc ids must survive the Arrow round-trip
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("__grams", T.ArrayType(T.LongType())),
            T.StructField("__sig", T.ArrayType(T.LongType())),
        ]
    )

    def compute(batches):
        for pdf in batches:
            ids, grams_out, sigs_out = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                b = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                if len(b) == 0:
                    b = np.zeros(shingle, dtype=np.uint8)
                if len(b) < shingle:  # whole-text single shingle
                    g = np.array([b.astype(np.uint64) @ POW[-len(b):]])
                else:
                    g = np.unique(
                        sliding_window_view(b, shingle).astype(np.uint64) @ POW
                    )
                sig = (A[:, None] * g[None, :] + B[:, None]).min(axis=1)
                ids.append(i)
                grams_out.append(g.view(np.int64))
                sigs_out.append(sig.view(np.int64))
            yield pd.DataFrame(
                {id_col: ids, "__grams": grams_out, "__sig": sigs_out}
            )

    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(id_col, text_col)
        .repartition(par, F.col(id_col))
        .mapInPandas(compute, out_schema)
    )


def _verify_partitions(
    n_candidate_ids: int,
    avg_gram_len: float,
    default_par: int,
    budget_bytes: int = 32 << 20,
) -> int:
    """Partition count for the SHUFFLE_HASH verify stage, computed from
    the candidate set instead of trusting the heap to be big enough.

    A shuffled hash join builds its per-partition hash map in memory
    and OOMs instead of spilling when one partition's build rows
    outgrow the task's heap share — the 320k scale probe crashed at 8g
    with the default 32 partitions before this sizing existed. Bytes
    per build row ~= 16 B/gram (UnsafeArrayData long + array/pointer
    overhead) + 128 B of row + hash-slot overhead, x-factored so the
    estimate errs toward more, smaller partitions; each partition's
    build is then capped near ``budget_bytes`` (32 MB default — small
    against any sane task heap share, large enough that the default
    parallelism still wins at bench scale). Clamped to [default_par,
    4096]: never fewer partitions than the cluster has slots, never so
    many that scheduling dominates."""
    build_bytes = n_candidate_ids * _build_row_bytes(avg_gram_len)
    need = int(build_bytes / budget_bytes) + 1
    return max(default_par, min(4096, need))


def _build_row_bytes(avg_gram_len: float) -> float:
    """Estimated in-memory bytes of one verify build row carrying an
    array of ``avg_gram_len`` longs (see _verify_partitions)."""
    return avg_gram_len * 16.0 + 128.0


def _sig_checkpoint_level(spark) -> StorageLevel:
    """Storage level for the corpus-sized signature/gram
    localCheckpoints (the dominant blocks of the minhash family:
    ~10 KB shingle arrays per doc).

    At tight heaps these blocks GC-thrash the verify hash build —
    SCALE_NOTES round 5 measured a 24.5-277.5 s spread at 320k docs on
    an 8g heap with the default level — so below the threshold they
    are parked on local disk (DISK_ONLY: read back a handful of times,
    sequential disk read ≪ full-GC stalls). At comfortable heaps the
    default MEMORY_AND_DISK is simply faster: A/B at sf0.1 on a 24g
    heap, warm best-of-5, 3.10 s vs 3.62 s (round 6). The threshold
    uses the configured executor memory when set (cluster mode — the
    blocks live on executors), else the live JVM's max heap (local
    mode: one JVM holds everything); introspection failure falls back
    to DISK_ONLY, the choice that degrades to slower instead of to
    OOM."""
    try:
        sc = spark.sparkContext
        exec_mem = sc.getConf().get("spark.executor.memory", None)
        if exec_mem:
            unit = exec_mem[-1].lower()
            if unit.isdigit():
                # bare number: Spark's JavaUtils treats a suffix-less
                # memory string as MiB ("16384" == 16g), not bytes
                heap_bytes = float(exec_mem) * (1 << 20)
            else:
                heap_bytes = float(exec_mem[:-1]) * {
                    "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40
                }.get(unit, 1.0)
        else:
            heap_bytes = sc._jvm.java.lang.Runtime.getRuntime().maxMemory()
    except Exception:
        return StorageLevel.DISK_ONLY
    if heap_bytes >= 15 * (1 << 30):
        return StorageLevel.MEMORY_AND_DISK
    return StorageLevel.DISK_ONLY


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    shingle: int = 5,
    bands: int = 8,
    use_numpy: bool = True,
    max_bucket_size: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard.

    Returns (id_a, id_b, jaccard_sim >= threshold). The classic
    shingle->minhash->band->bucket-join pipeline; only bucket
    collisions pay the exact-verification cost. ``jaccard_sim`` is
    rounded to ``round_digits`` BEFORE the threshold cut (engine-
    reproducible boundary; ``None`` = raw cut).

    Parameter choices are the scale levers:
    - banding S-curve: collision prob per pair = 1-(1-J^r)^b with
      r = num_hashes/bands. Defaults (r=8, b=8) put the knee at
      J~0.77 — steep enough that a corpus whose *typical* pair
      similarity is below ~0.5 produces almost no false candidates.
      Wide bands (r=4) on a high-baseline-similarity corpus caused a
      5M-candidate blowup at sf0.1 (measured 240 s -> sub-second
      candidate stage after retuning).
    - shingle=5: 3-grams saturate on small vocabularies (avg pair
      J~0.43 on the fixture corpus); 5-grams drop that to ~0.17.
    - verification prefilter: the signature match-fraction (64 cheap
      comparisons) must reach threshold-0.2 before the exact O(|set|)
      intersection runs.
    """
    rows_per_band = max(1, num_hashes // bands)
    if use_numpy:
        # lazy localCheckpoint: the signature frame feeds three branches
        # (banding + both verify sides); checkpointing materializes the
        # Arrow batch pass once instead of re-running it per branch
        # (measured 2.05s -> 0.48s warm at sf0.1). Storage level is
        # heap-adaptive — see _sig_checkpoint_level: DISK_ONLY at
        # tight heaps so the verify hash build gets the heap instead
        # of full-GC-thrashing around a cached corpus, MEMORY_AND_DISK
        # when the heap comfortably holds the blocks
        with_sig = _shingle_minhash_numpy(
            df, id_col, text_col, num_hashes, shingle
        ).localCheckpoint(
            eager=False, storageLevel=_sig_checkpoint_level(df.sparkSession)
        )
        with_grams = with_sig.select(id_col, "__grams")
    else:
        # Pure-expression path (JVM-side, no Python workers). The
        # repartition is load-bearing twice over: (1) it is an Exchange
        # barrier, so the shingle arrays are materialized once instead of
        # being re-inlined into all 64 signature lambdas by
        # CollapseProject; (2) it spreads signature hashing across cores
        # even when the source is a single parquet split, and AQE's
        # ReuseExchange shares the shuffled shingles across the
        # candidate/verify branches below. Still ~10x slower than the
        # numpy path: higher-order lambdas are interpreted, not codegen'd.
        par = df.sparkSession.sparkContext.defaultParallelism
        with_grams = df.select(
            F.col(id_col), char_ngrams(text_col, shingle).alias("__grams")
        ).repartition(par, F.col(id_col))
        with_sig = with_grams.withColumn(
            "__sig", minhash_signature(F.col("__grams"), num_hashes)
        )
    # pairs feeds three consumers (both semi filters + the verify
    # join); the lazy localCheckpoint materializes the banding
    # self-join once instead of three times
    pairs = lsh_candidate_pairs(
        with_sig, id_col, "__sig", bands, rows_per_band, max_bucket_size
    ).localCheckpoint(eager=False)
    # Verification joins back to with_grams, NOT with_sig: the a/b
    # branches then cost only a read of the reused grams Exchange,
    # instead of re-running the 64-pass signature per branch (~5s/branch
    # at sf0.1). Each branch is SEMI-FILTERED to the ids that actually
    # appear in candidate pairs before the grams ride a join: the id
    # set is tiny (pair-proportional, AQE broadcasts it), so the join
    # that carries the heavy shingle arrays moves candidate-sized data
    # instead of shuffling the whole corpus's grams (measured at n=80k,
    # together with the shuffle_hash hint below: 95 s -> ~15 s total).
    # The banding S-curve already did the approximate filtering; before
    # the exact O(|set|) intersection we only keep the free size
    # prefilter J <= min/max.
    # SHUFFLE_HASH on the gram-carrying branches: sort-merge would SORT
    # rows whose payload is a ~10 KB shingle array — measured 28-33 s
    # vs 2-8 s hash join at n=80k. The build side is the semi-filtered
    # (pair-proportional) gram subset; its partition count is COMPUTED
    # from the candidate set (one count over the checkpointed pairs +
    # one cached-scan average of gram lengths) so each partition's hash
    # build stays within a fixed byte budget — the hash build OOMs
    # instead of spilling, so this sizing, not heap headroom, is the
    # scale guarantee (320k probe passes at 8g with it; before, it
    # needed a 24g heap). Counting pairs here also materializes the
    # lazy checkpoints once; every later consumer reads the cache.
    return _verify_pairs(pairs, with_grams, id_col, threshold, round_digits)


def _verify_pairs(
    pairs: DataFrame,
    with_grams: DataFrame,
    id_col: str,
    threshold: float,
    round_digits: int | None,
) -> DataFrame:
    """Exact-Jaccard verification of an (id_a, id_b) candidate set
    against a grams frame ``(id_col, __grams)`` — the shared verify
    stage of :func:`near_dup_pairs_minhash` and
    :func:`near_dup_pairs_from_signatures`. ``pairs`` must be
    checkpointed by the caller (it is consumed three times: the stats
    count + both semi filters). See near_dup_pairs_minhash for the
    semi-filter / SHUFFLE_HASH / computed-partition-count rationale.

    Round 12 (guide §2.4/§1.2): the sizing estimate is the plain PAIR
    count, not a countDistinct over each id column — the count is
    exchange-free (one scan of the just-materialized checkpoint, so
    the stats job IS the banding materialization and nothing more),
    and n_pairs >= n_distinct_ids always, so the partition count it
    yields can only err toward MORE, smaller partitions — the exact
    direction _verify_partitions' own estimate already leans."""
    par = pairs.sparkSession.sparkContext.defaultParallelism
    n_cand_ids = pairs.count()
    # the avg-gram-length pass only matters when the candidate set is
    # big enough that even a pessimistic 64 KB/row would overflow the
    # default partitions — below that, skip the (cached) corpus scan
    if n_cand_ids and _verify_partitions(n_cand_ids, 4096.0, par) > par:
        avg_len = (
            with_grams.agg(F.avg(F.size("__grams")).alias("g")).first()["g"]
            or 0.0
        )
        nparts = _verify_partitions(n_cand_ids, avg_len, par)
    else:
        nparts = par
    a = (
        with_grams.withColumnRenamed(id_col, "id_a")
        .join(pairs.select("id_a").distinct(), "id_a", "left_semi")
        .select("id_a", F.col("__grams").alias("__ga"))
        .repartition(nparts, F.col("id_a"))
        .hint("shuffle_hash")
    )
    b = (
        with_grams.withColumnRenamed(id_col, "id_b")
        .join(pairs.select("id_b").distinct(), "id_b", "left_semi")
        .select("id_b", F.col("__grams").alias("__gb"))
        .repartition(nparts, F.col("id_b"))
        .hint("shuffle_hash")
    )
    na, nb = F.size(F.col("__ga")), F.size(F.col("__gb"))
    sim = jaccard(F.col("__ga"), F.col("__gb"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    pre_thr = threshold - _round_eps(round_digits)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.least(na, nb) >= F.lit(pre_thr) * F.greatest(na, nb))
        .withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def _verify_pairs_signature(
    pairs: DataFrame,
    with_sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
    round_digits: int | None,
) -> DataFrame:
    """Signature-estimated verify of an (id_a, id_b) candidate set
    against a signature frame ``(id_col, __sig)`` — the
    ``verify="signature"`` counterpart of :func:`_verify_pairs`:
    Jaccard estimated as the fraction of matching MinHash components,
    no grams read (unbiased, std ≈ sqrt(j(1-j)/num_hashes); see
    near_dup_pairs_against_index's verify doc). Same semi-filter /
    SHUFFLE_HASH discipline; partition sizing is direct (fixed-width
    num_hashes-component rows — no gram-length pass exists to pay),
    and round 12 sizes from the exchange-free pair count (>= distinct
    ids, errs toward more partitions — see _verify_pairs)."""
    par = pairs.sparkSession.sparkContext.defaultParallelism
    n_cand_ids = pairs.count()
    nparts = _verify_partitions(n_cand_ids, float(num_hashes), par)
    a = (
        with_sigs.withColumnRenamed(id_col, "id_a")
        .join(pairs.select("id_a").distinct(), "id_a", "left_semi")
        .select("id_a", F.col("__sig").alias("__sa"))
        .repartition(nparts, F.col("id_a"))
        .hint("shuffle_hash")
    )
    b = (
        with_sigs.withColumnRenamed(id_col, "id_b")
        .join(pairs.select("id_b").distinct(), "id_b", "left_semi")
        .select("id_b", F.col("__sig").alias("__sb"))
        .repartition(nparts, F.col("id_b"))
        .hint("shuffle_hash")
    )
    sim = F.aggregate(
        F.zip_with(
            F.col("__sa"), F.col("__sb"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, m: acc + m,
    ) / F.lit(float(num_hashes))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def reverify_pairs_from_text(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    band: float = 0.25,
    left_col: str = "id_new",
    right_col: str = "id_match",
    num_hashes: int = 64,
    shingle: int = 5,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exactness-recovery pass for signature-estimated pipelines
    (round 11): re-verify ONLY the threshold-boundary band of an
    estimated pair set from text, exactly.

    The MinHash estimator (``verify="signature"``) is unbiased with
    std ≈ sqrt(j(1-j)/num_hashes), so pairs near ``threshold`` can be
    mis-kept or mis-dropped while pairs far from it are safe. The
    canonical hybrid recipe:

    1. capture with signature verify at ``threshold - band`` (the
       over-capture absorbs the estimator's downward errors);
    2. ``reverify_pairs_from_text(pairs, docs, threshold=t,
       band=band)`` — pairs ESTIMATED below ``t + band`` are
       re-shingled from text (ONLY those docs: a candidate-sized
       semi-join fetch, never a corpus scan) and re-cut at ``t`` with
       exact Jaccard; pairs at or above ``t + band`` pass through
       with their estimates (their exactness is not in doubt — only
       their last digits).

    With ``band`` at least the estimator's worst deviation (4 sigma =
    0.25 at 64 hashes covers everything the property tests observe),
    the hybrid's PAIR SET equals the exact grams pipeline's at ``t``
    — pinned by test_dedup's recovery test — while the exact work
    stays proportional to the boundary population, not the corpus.

    ``docs`` must cover every id the boundary pairs reference (the
    batch+history corpus union); a missing id fails loudly in-plan
    rather than silently dropping the pair. Grams are recomputed with
    the SAME kernel the pipeline stores (seeded base-257 shingles),
    so recomputed values are byte-comparable with stored-grams runs.
    """
    est = F.col("jaccard_sim")
    confident = pairs.filter(est >= threshold + band)
    boundary = pairs.filter(est < threshold + band).localCheckpoint(
        eager=False
    )
    ids = (
        boundary.select(F.col(left_col).alias(id_col))
        .unionByName(boundary.select(F.col(right_col).alias(id_col)))
        .distinct()
    )
    grams = _shingle_minhash_numpy(
        docs.join(ids, id_col, "left_semi"),
        id_col, text_col, num_hashes, shingle,
    ).select(id_col, "__grams")
    missing_msg = (
        "reverify_pairs_from_text: a boundary pair references an id "
        "absent from docs — pass the batch+history corpus union"
    )

    def _guarded(side: str):
        g = grams.withColumnRenamed(id_col, side).withColumnRenamed(
            "__grams", f"__g_{side}"
        )
        joined = boundary.select(side).distinct().join(g, side, "left")
        return joined.withColumn(
            f"__g_{side}",
            F.when(
                F.col(f"__g_{side}").isNotNull(), F.col(f"__g_{side}")
            ).otherwise(F.raise_error(F.lit(missing_msg))),
        )

    sim = jaccard(F.col(f"__g_{left_col}"), F.col(f"__g_{right_col}"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    reverified = (
        boundary.drop("jaccard_sim")
        .join(_guarded(left_col), left_col)
        .join(_guarded(right_col), right_col)
        .withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select(left_col, right_col, "jaccard_sim")
    )
    return confident.select(left_col, right_col, "jaccard_sim").unionByName(
        reverified
    )


def near_dup_pairs_from_signatures(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 8,
    max_bucket_size: int | None = None,
    round_digits: int | None = 6,
    verify: str = "grams",
) -> DataFrame:
    """All-pairs near-dup detection over a STORED signature frame
    ``(id, __grams, __sig)`` (the :func:`build_minhash_index` schema)
    — no text is read and nothing is re-signed: banding + exact-
    Jaccard verification run entirely from the persisted arrays.

    ``verify="signature"`` (round 11) estimates Jaccard from the
    signatures alone — the reconciliation mode for signature-ONLY
    stores (:func:`build_minhash_index` ``keep_grams=False``); same
    estimator contract as
    :func:`near_dup_pairs_against_index`'s signature mode.

    This is the offline-reconciliation primitive: a rolling ingest
    that logged every doc's signatures (survivors to the index store,
    dropped docs to a drop log) can recompute the FULL corpus pair
    graph from storage alone — e.g.
    :func:`streaming.dedup.reconcile_survivors` runs batch connected
    components over these pairs to find the docs greedy streaming
    resolution over-kept. Pair-for-pair identical to
    :func:`near_dup_pairs_minhash` on the original text when the
    signatures were built with the same family params (seed,
    num_hashes, shingle) and the banding params match.

    Scale shape: one banding shuffle + candidate-sized verify (same
    computed SHUFFLE_HASH partition sizing as the text path); the
    signature frame rides heap-adaptive checkpoints
    (:func:`_sig_checkpoint_level`) so tight heaps stay with the
    verify hash build. Pass the RAW store read: the function
    checkpoints internally because the frame feeds banding plus both
    verify sides — a pre-checkpointed input just pays a second
    corpus-sized block copy per call.
    """
    if verify not in ("grams", "signature"):
        raise ValueError(
            f"verify must be 'grams' or 'signature', got {verify!r}"
        )
    if verify == "grams" and "__grams" not in sig_df.columns:
        raise ValueError(
            "signature frame has no __grams column (signature-only "
            "store?) — exact verification needs the stored shingle "
            "arrays; pass verify='signature' to estimate Jaccard from "
            "the signatures instead"
        )
    rows_per_band = max(1, num_hashes // bands)
    sig = sig_df.localCheckpoint(
        eager=False, storageLevel=_sig_checkpoint_level(sig_df.sparkSession)
    )
    pairs = lsh_candidate_pairs(
        sig, id_col, "__sig", bands, rows_per_band, max_bucket_size,
        expected_len=num_hashes,
    ).localCheckpoint(eager=False)
    if verify == "signature":
        return _verify_pairs_signature(
            pairs, sig.select(id_col, "__sig"), id_col, num_hashes,
            threshold, round_digits,
        )
    return _verify_pairs(
        pairs, sig.select(id_col, "__grams"), id_col, threshold, round_digits
    )


# ---------------- SimHash -----------------------------------------


def token_hashes(text_col: Column | str) -> Column:
    """array<long> of xxhash64 per whitespace token — materialize this
    once, then feed the *column* to :func:`simhash_bits` (same
    inline-recompute hazard as minhash_signature)."""
    return F.transform(tokens(text_col), lambda t: F.xxhash64(t))


def simhash_bits(tok_hashes_col: Column | str, bits: int = 64) -> Column:
    """array<int> of SimHash sign bits from a token-hash array column.

    Per bit b: sum over token hashes of +-1 depending on bit b; bit set
    iff sum >= 0. Bits unrolled at plan-build time (shiftright needs a
    literal int); 64 small aggregates stay inside codegen limits."""
    th = F.col(tok_hashes_col) if isinstance(tok_hashes_col, str) else tok_hashes_col

    def bit_score(b: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return (F.aggregate(th, F.lit(0).cast("long"), merge) >= 0).cast("int")

    return F.array(*[bit_score(b) for b in range(bits)])


def hamming(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _simhash_bits_numpy(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """(id, __bits array<int>) via one vectorized Arrow batch pass.

    Token hashes: base-257 polynomial over the token bytes, then a
    splitmix64-style finalizer so every output bit is decorrelated
    (polynomial hashes of similar tokens would otherwise share high
    bits and collapse the SimHash). Sign bits: one (n_tokens x bits)
    broadcasted popcount-style sum. Same ~10x win over interpreted
    per-bit aggregate lambdas as the MinHash numpy path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C1 = np.uint64(0xBF58476D1CE4E5B9)
    C2 = np.uint64(0x94D049BB133111EB)
    shifts = np.arange(bits, dtype=np.uint64)

    def mix(h):
        h = (h ^ (h >> np.uint64(30))) * C1
        h = (h ^ (h >> np.uint64(27))) * C2
        return h ^ (h >> np.uint64(31))

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("__bits", T.ArrayType(T.IntegerType())),
        ]
    )

    def compute(batches):
        # batch-vectorized (round 11, guide §4.2): the previous form
        # ran ~3 numpy calls PER TOKEN (frombuffer/astype/dot on
        # single-token byte arrays) — millions of interpreter round
        # trips per batch, measured ~10 s summed task time at sf0.1.
        # One flat pass over the batch's concatenated token bytes:
        # per-byte contribution b * 257^(L-1-pos) with wrapping uint64
        # arithmetic (numpy's uint64 multiply/add and the old uint64
        # dot both reduce mod 2^64, so hashes are bit-identical —
        # property-pinned in tests/test_dedup.py), per-token sums and
        # per-doc bit votes via np.add.reduceat. No sorts — unlike the
        # MinHash kernel (which needs per-doc unique() and measured 2x
        # SLOWER batch-vectorized), this one is pure segmented sums.
        for pdf in batches:
            ids = pdf[id_col]
            # one blob encode for the whole batch: str.split() tokens
            # can never contain an ASCII space (it IS a split char,
            # and multi-byte UTF-8 bytes are all >= 0x80), so joining
            # tokens AND docs with single spaces makes every 0x20 byte
            # a token boundary — recovered vectorized below. 9x
            # cheaper than a per-token encode loop (measured)
            parts: list[str] = []
            ntoks = np.zeros(len(ids), dtype=np.int64)
            for j, text in enumerate(pdf[text_col]):
                toks = (text or "").split()
                ntoks[j] = len(toks)
                if toks:
                    parts.append(" ".join(toks))
            data = np.frombuffer(" ".join(parts).encode("utf-8"), np.uint8)
            n_tok = int(ntoks.sum())
            if n_tok:
                sep = data == 32
                sep_pos = np.flatnonzero(sep)
                starts = np.concatenate(([0], sep_pos + 1))
                ends = np.concatenate((sep_pos, [data.size]))
                # per-byte token index; a separator byte belongs to
                # the token it terminates (its contrib is zeroed)
                tid = np.cumsum(
                    np.concatenate(([0], sep[:-1].astype(np.int64)))
                )
                exp = ends[tid] - 1 - np.arange(data.size, dtype=np.int64)
                maxlen = int((ends - starts).max())
                pow257 = np.empty(maxlen, dtype=np.uint64)
                pow257[0] = 1
                if maxlen > 1:
                    np.cumprod(
                        np.full(maxlen - 1, 257, dtype=np.uint64),
                        out=pow257[1:],
                    )
                # separator positions have exp == -1 (pos == end): the
                # wrap-indexed power is garbage there, zeroed next line
                contrib = data.astype(np.uint64) * pow257[exp]
                contrib[sep] = 0
                hs = np.add.reduceat(contrib, starts)
                hs = mix(hs)
            else:
                hs = np.zeros(0, dtype=np.uint64)
            # empty docs keep the old semantics: one all-zero hash
            # (mix(0) == 0) voting on every bit
            bitmat = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
            votes2 = np.zeros((len(ids), bits), dtype=np.int64)
            doc_toffs = np.concatenate(([0], np.cumsum(ntoks)))[:-1]
            has = ntoks > 0
            if has.any():
                votes2[has] = np.add.reduceat(
                    bitmat.astype(np.int64), doc_toffs[has], axis=0
                )
            n_eff = np.where(has, ntoks, 1)  # the zero-hash pseudo-tok
            sig = (2 * votes2 - n_eff[:, None] >= 0).astype(np.int32)
            yield pd.DataFrame(
                {id_col: ids, "__bits": list(sig)}
            )

    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(id_col, text_col)
        .repartition(par, F.col(id_col))
        .mapInPandas(compute, out_schema)
    )


def near_dup_pairs_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    bands: int = 4,
    use_numpy: bool = True,
) -> DataFrame:
    """SimHash near-dup: band the bit vector (pigeonhole — any pair with
    hamming <= bands-1 collides on >= one band); verify exact Hamming.

    Returns (id_a, id_b, hamming_dist <= max_hamming).
    """
    per = bits // bands
    if use_numpy:
        # same multi-consumer materialization as near_dup_pairs_minhash
        with_sig = _simhash_bits_numpy(df, id_col, text_col, bits).localCheckpoint(
            eager=False
        )
    else:
        # Exchange barrier before the 64 per-bit aggregates — same
        # CollapseProject hazard as near_dup_pairs_minhash: without it
        # the tokenize+hash expression is re-inlined into every
        # bit_score.
        par = df.sparkSession.sparkContext.defaultParallelism
        with_sig = (
            df.select(F.col(id_col), token_hashes(text_col).alias("__th"))
            .repartition(par, F.col(id_col))
            .select(F.col(id_col), simhash_bits(F.col("__th"), bits).alias("__bits"))
        )
    banded = with_sig.select(
        F.col(id_col).alias("__id"),
        F.col("__bits"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice(F.col("__bits"), b * per + 1, per)).alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("bb"),
    ).select("__id", "__bits", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=["band", "bucket"], how="inner")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__bits").alias("__ba"),
            F.col("b.__bits").alias("__bb"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming_dist", hamming(F.col("__ba"), F.col("__bb")))
        .filter(F.col("hamming_dist") <= max_hamming)
        .select("id_a", "id_b", "hamming_dist")
    )


# ---------------- connected components + dedup --------------------


def connected_components(
    edges: DataFrame, max_iter: int = 15
) -> DataFrame:
    """Label propagation over an (id_a, id_b) edge list -> (id, component).

    component = min node id reachable. Each round: every node adopts
    the min label in its neighborhood (joins + groupBy only — shuffle
    per round, no driver-side graph). Converges in O(diameter) rounds;
    dedup graphs are near-cliques so a few rounds suffice. Iteration
    stops early when a round changes nothing.
    """
    # localCheckpoint (not just persist) on every iteration frame: the
    # loop otherwise doubles the logical plan per round (labels feeds
    # both the join and the neighbor aggregate), and a ~10-round run
    # OOMs the driver on plan construction alone. Checkpointing
    # truncates lineage so round N's plan is O(1), not O(2^N).
    #
    # The INPUT is checkpointed first: sym consumes `edges` twice (one
    # select per direction), and an expensive upstream — e.g. the
    # LSH banding + exact-verify pipeline feeding reconcile — would
    # otherwise run twice before sym's own checkpoint materializes
    # (measured 2x the verify stage at 80k docs, round 6).
    edges = edges.select("id_a", "id_b").localCheckpoint(eager=False)
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("component", F.col("id")).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id, "inner")
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
            # lazy: materialized by the changed-count below, which
            # consumes it through both pointer-jump branches
            .localCheckpoint(eager=False)
        )
        # pointer jump (path halving): adopt your label's label.
        # Labels are node ids of the same component and comp(y) <= y,
        # so the jump is monotone and stays in-component — it only
        # ACCELERATES convergence: a diameter-D chain closes in
        # O(log D) rounds instead of D. Per-round cost: one extra
        # self-join inside the same action; round count collapses.
        # (sf0.1 embedding dedup: the fixture's near-threshold chains
        # took ~2x max_iter rounds of pure scheduling floor before
        # this, round 6.)
        new_labels = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("pid"), F.col("component").alias("pcomp")
                ).alias("p"),
                F.col("s.component") == F.col("p.pid"),
                "left",
            )
            .select(
                F.col("s.id").alias("id"),
                F.least(
                    F.col("s.component"),
                    F.coalesce(F.col("pcomp"), F.col("s.component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE action per round: the changed-count materializes the
        # round's checkpoint (it was a separate eager-checkpoint job
        # per round before — half the floor cost at small sizes)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 15,
) -> DataFrame:
    """Drop near-duplicates: group pair graph into components, keep the
    min-id representative of each component plus all unpaired rows."""
    comps = connected_components(pairs.select("id_a", "id_b"), max_iter)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def dedup_near_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_by: list[Column],
    max_iter: int = 15,
    cluster_size_col: str | None = None,
) -> DataFrame:
    """Near-dedup with an explicit CANONICAL-selection policy: group
    the pair graph into components and keep the best row per component
    under ``order_by`` (e.g. longest document, highest quality score)
    instead of :func:`dedup_near`'s arbitrary min-id pick — the policy
    production dedup actually wants, where the survivor should be the
    most complete copy, not whichever crawled first. ``order_by`` must
    be a total order (break ties on the id) so the survivor is
    deterministic. Unpaired rows pass through untouched.

    With ``cluster_size_col`` set, the output carries each survivor's
    component size (1 for unpaired rows) — the per-doc duplication
    exposure a release datacard wants alongside the survivor set.

    Scale shape: the component labels are a node-sized frame; the
    rank/size window partitions by ``component`` (dedup components are
    tiny near-cliques — never a partition-less global window), and
    unpaired rows take the null-component branch without entering the
    window at all. One label join + one component-keyed window on the
    PAIRED subset only."""
    comps = connected_components(pairs.select("id_a", "id_b"), max_iter).select(
        F.col("id").alias(id_col), "component"
    )
    members = df.join(comps, on=id_col, how="left")
    paired = members.filter(F.col("component").isNotNull())
    w = Window.partitionBy("component")
    ranked = paired.withColumn(
        "__rn", F.row_number().over(w.orderBy(*order_by))
    ).withColumn("__sz", F.count(F.lit(1)).over(w))
    keeps = ranked.filter(F.col("__rn") == 1).drop("__rn", "component")
    singles = members.filter(F.col("component").isNull()).drop(
        "component"
    ).withColumn("__sz", F.lit(1).cast("long"))
    out = keeps.withColumn("__sz", F.col("__sz").cast("long")).unionByName(
        singles
    )
    if cluster_size_col is None:
        return out.drop("__sz")
    return out.withColumnRenamed("__sz", cluster_size_col)


# ---------------- exact substring (token-window) dedup ------------


def _span_occurrences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per (doc, start-position) sliding token window:
    (id, *extra, __i 1-based start, __n token count, span text).

    Pure JVM expressions (split/sequence/slice/array_join) — the whole
    pass stays inside whole-stage codegen, no Python workers. The
    explode fan-out is ~n_tokens rows per doc (bounded by text volume
    / avg token length), the same order as the shingle pass MinHash
    runs; no shuffle happens here."""
    t = tokens(text_col)
    base = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], t.alias("__t")
    )
    n = F.size("__t")
    # sequence(a, b) runs DESCENDING when b < a — guard short docs
    # explicitly instead of relying on it.
    starts = F.when(
        n >= window, F.sequence(F.lit(1), n - F.lit(window - 1))
    ).otherwise(F.array().cast("array<int>"))
    return (
        base.select(
            id_col,
            *extra_cols,
            n.alias("__n"),
            F.col("__t"),
            F.explode(starts).alias("__i"),
        )
        .withColumn(
            "span", F.array_join(F.slice("__t", F.col("__i"), window), " ")
        )
        .drop("__t")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring duplication at token-window granularity: every
    ``window``-token sliding span that occurs in >= ``min_docs``
    DISTINCT documents, with its document and occurrence counts.

    This is the exact-substring pass of the dataset-dedup literature
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): near-dup detectors (MinHash/SimHash) find
    whole-document similarity; this finds shared PASSAGES — boilerplate,
    licenses, quoted text — regardless of how different the surrounding
    documents are. Suffix arrays give the same answer for unbounded
    span length; fixing the window length makes it a pure
    groupBy-count, which distributes trivially.

    One shuffle (groupBy span). Spans are grouped by their text here so
    the DuckDB oracle twin is byte-identical; at 100 TB group by
    ``xxhash64(span)`` instead and shuffle 8-byte keys (a collision
    merely merges two counts — re-verify survivors if that matters).
    """
    occ = _span_occurrences(df, id_col, text_col, window)
    return (
        occ.groupBy("span")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    window: int = 8,
    min_docs: int = 2,
    broadcast_dup: bool = True,
) -> DataFrame:
    """Per-group accounting of exact-substring duplication: for each
    ``group_col`` value, how many documents contain at least one
    cross-document duplicate span, and what fraction of their tokens
    those spans cover (a token is covered iff some duplicated window
    contains it — overlapping windows are merged by position-distinct).

    Plan: window pass (map-only) -> span groupBy (shuffle 1) -> the
    duplicated-span set joins back against the occurrences (broadcast
    by default: the dup set is the *duplicated* subset, typically
    orders of magnitude smaller than the corpus; set
    ``broadcast_dup=False`` to let the optimizer pick a shuffle join
    when duplication is pervasive) -> position fan-out (bounded:
    ``window`` rows per hit) -> position-distinct + two cheap
    aggregates. All outputs are integers — the coverage ratio is
    emitted in parts-per-million (``dup_token_ppm`` BIGINT) rather
    than a rounded double, so the row is bit-deterministic across
    engines and driver canonicalizations.
    """
    occ = _span_occurrences(df, id_col, text_col, window, (group_col,))
    dup = (
        occ.groupBy("span")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("span")
    )
    if broadcast_dup:
        dup = F.broadcast(dup)
    covered = (
        occ.join(dup, "span")
        .select(
            id_col,
            group_col,
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + F.lit(window - 1))
            ).alias("__p"),
        )
        .distinct()
        .groupBy(id_col, group_col)
        .agg(F.count("*").alias("__c"))
    )
    base = df.select(
        id_col, group_col, token_count(F.col(text_col)).alias("__n")
    )
    j = base.join(covered, [id_col, group_col], "left").na.fill({"__c": 0})
    return j.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("__c") > 0).cast("bigint")).alias("n_docs_with_dup"),
        F.sum("__c").alias("dup_tokens"),
        F.sum("__n").alias("total_tokens"),
        # cast to double BEFORE the 1e6 multiply: BIGINT * 1_000_000
        # silently wraps (ANSI off) once dup_tokens exceeds ~9.2e12 —
        # reachable at the 100 TB corpus scale this targets — and the
        # DuckDB oracle multiplies by 1000000.0 (double) anyway, so
        # double-first keeps both engines on the same arithmetic path
        F.round(
            F.sum("__c").cast("double")
            * F.lit(1_000_000)
            / F.greatest(F.sum("__n"), F.lit(1))
        )
        .cast("bigint")
        .alias("dup_token_ppm"),
    )


# ---------------- incremental (continuous-ingest) dedup -----------


def incremental_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingest dedup: keep only the ``new_df`` rows whose
    normalized-text fingerprint appears nowhere in ``history_df`` AND
    is the min-id representative within the new batch itself.

    This is the shape every rolling corpus build needs — the history
    side reduces to its distinct fingerprint set (at 100 TB you
    materialize that set once and reuse it per batch; it is ~16 bytes
    a document, not the corpus), then one left_anti join removes
    already-seen content and the usual fingerprint groupBy dedups the
    batch internally. Two shuffles total, both on the 16-byte
    fingerprint, never on text."""
    fp = fingerprint(text_col)
    seen = history_df.select(fp.alias("__fp")).distinct()
    fresh = (
        new_df.withColumn("__fp", fp)
        .join(seen, on="__fp", how="left_anti")
    )
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def _bloom_positions(col: Column, m_bits: int, k: int) -> Column:
    """array<struct<word:long, mask:long>> — the ``k`` Bloom bit
    positions of ``col`` as (64-bit word index, single-bit mask),
    hashed with seeded ``xxhash64`` so build and probe agree across
    jobs, sessions and engines. Unrolled at plan-build time (k is a
    literal); everything stays in codegen. The single-bit mask comes
    from a 64-literal lookup (Python's shiftleft wrapper only takes a
    constant shift; bit 63 wraps to long-min in two's complement)."""
    masks = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(64)
        ]
    )
    entries = []
    for i in range(k):
        pos = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
        entries.append(
            F.struct(
                F.shiftrightunsigned(pos, 6).alias("word"),
                F.element_at(masks, (pos % 64).cast("int") + 1).alias("mask"),
            )
        )
    return F.array(*entries)


def fingerprint_bloom(
    history_df: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 23,
    k: int = 5,
) -> DataFrame:
    """Distributed Bloom filter over the history's normalized-text
    fingerprints, materialized as the sparse bitset relation
    ``(word long, mask long)`` — at most ``m_bits/64`` rows no matter
    how large the history is.

    Build cost: one scan of the history + one shuffle of partial
    bitsets (map-side ``bit_or`` collapses each partition's
    contribution to <= m_bits/64 rows BEFORE the exchange, so shuffle
    volume is O(partitions x m_bits), independent of row count). The
    history's fingerprints never move; OSS Spark exposes no Bloom
    aggregate to Python, so this is the same construction the runtime
    bloom join filter uses, expressed in plain DataFrame ops.

    The build params ``(m_bits, k)`` are stamped on every row as
    literal columns so they TRAVEL WITH the bitset through any persist
    / versioned-store round trip: a probe against a persisted filter
    must use the exact params it was built with (a drifted ``m_bits``
    maps probes to the wrong bit positions — real duplicates then test
    "definitely new", silently breaking the EXACT-result guarantee).
    :func:`incremental_dedup_bloom` reads these columns back and
    adopts them, so build/probe param skew is impossible by
    construction for any bitset produced here."""
    fp = fingerprint(text_col)
    return (
        history_df.select(
            F.explode(_bloom_positions(fp, m_bits, k)).alias("e")
        )
        .select(F.col("e.word").alias("word"), F.col("e.mask").alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
        .withColumn("m_bits", F.lit(int(m_bits)).cast("long"))
        .withColumn("k", F.lit(int(k)).cast("int"))
    )


def incremental_dedup_bloom(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 23,
    k: int = 5,
    bloom_df: DataFrame | None = None,
    history_fp_df: DataFrame | None = None,
    dense_path: bool | None = None,
) -> DataFrame:
    """:func:`incremental_dedup` with a broadcast Bloom prefilter —
    EXACTLY the same result (Bloom false positives are removed by the
    exact join; Bloom has no false negatives), with the history's
    fingerprint set taken out of the per-batch shuffle:

    1. within-batch dedup first (min-id representative per
       fingerprint — identical to incremental_dedup's batch half);
    2. each representative probes the broadcast Bloom bitset
       (``bloom_df`` — pass a precomputed/persisted one to amortize
       the build across batches, the intended rolling-corpus shape);
       a doc with ANY bit missing is DEFINITELY novel and skips the
       exact check — for a mostly-novel crawl that is most of the
       batch;
    3. only Bloom candidates (true dups + ~n/2^? false positives at
       the configured bits-per-key) ride the exact anti-join against
       the history fingerprints.

    At scale the per-batch bytes moved are the bitset relation
    (<= m_bits/64 rows, broadcast once) + the candidate subset —
    versus incremental_dedup's full history-fingerprint shuffle every
    batch. Size ``m_bits`` at ~10 bits/history-doc for ~1% FP; an
    undersized filter only costs extra exact-join traffic, never
    correctness.

    Rolling-corpus state: pass ``bloom_df`` (the persisted bitset
    relation) and ``history_fp_df`` (a persisted distinct-fingerprint
    table with one ``__fp`` column) to skip re-reading and re-hashing
    the history text entirely — per-batch cost is then independent of
    history size. ``history_df`` is ignored for the exact check when
    ``history_fp_df`` is given.

    Param safety: a supplied ``bloom_df`` carrying the ``m_bits``/``k``
    columns :func:`fingerprint_bloom` stamps has its params ADOPTED —
    the probe always hashes with the bitset's own build params, so the
    ``m_bits``/``k`` arguments are ignored in that case (probing with
    anything else is never meaningful: positions would not correspond
    to stored bits and real duplicates could probe "definitely new" —
    a silent exactness break, not a perf knob). A legacy bitset
    without the param columns is still accepted, but any stored word
    index outside the probe's ``m_bits`` range raises instead of
    silently corrupting; a SMALLER legacy filter is undetectable —
    rebuild with :func:`fingerprint_bloom` to get the stamped params."""
    fp = fingerprint(text_col)
    if bloom_df is None:
        bloom_df = fingerprint_bloom(history_df, text_col, m_bits, k)
    elif {"m_bits", "k"} <= set(bloom_df.columns):
        # one distinct (m_bits, k) pair REQUIRED: a bitset unioned from
        # filters built with different params (e.g. a versioned-store
        # read across a config change) has no single correct probe
        # geometry — adopting an arbitrary row's params reintroduces
        # the build/probe skew the stamping exists to prevent
        params = bloom_df.select("m_bits", "k").distinct().collect()
        if len(params) > 1:
            raise ValueError(
                "bloom_df mixes bitsets built with different params: "
                f"{sorted((int(r['m_bits']), int(r['k'])) for r in params)}"
                " — rebuild/compact the filter with one (m_bits, k) "
                "before probing"
            )
        if params:  # empty bitset (empty history): nothing stored
            m_bits, k = int(params[0]["m_bits"]), int(params[0]["k"])
    # (1) within-batch min-id representative per fingerprint
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    reps = (
        new_df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # consumed by both probe legs (sparse path) — materialize the
        # within-batch window once
        .localCheckpoint(eager=False)
    )
    # (2) Bloom probe: k (word, mask) lookups per doc, candidate iff
    # every probed bit is set. Two physical strategies, same result:
    #
    # - DENSE (default for m_bits <= 2^24 = 2 MB of bitset): the
    #   bitset is collected once into a numpy array and rides an
    #   executor broadcast into one vectorized Arrow-batch test —
    #   the probe is then pure scan work (no explode, no join, no
    #   groupBy), the same bounded-closure shape as the IVF centroid
    #   matmul. Positions are still computed JVM-side with the same
    #   seeded xxhash64, so dense and sparse probes agree bit-for-bit.
    # - SPARSE (bigger m): explode the k probes, broadcast-join the
    #   bitset relation, bool-and per doc — no driver materialization
    #   of the filter at any m.
    # The 2^24 auto boundary is MEASURED, not asserted (round 6
    # crossover probe, 320k docs: dense==sparse at 2^23, sparse wins
    # 1.6x at 2^25 and 2-3x at 2^26..2^30 — the per-call
    # collect+broadcast scales with m while the sparse join's moved
    # bytes scale with the PROBE count; SCALE_NOTES round 6).
    # ``dense_path``: True/False force one strategy — the probe/
    # tuning escape hatch, result-identical either way; callers that
    # amortize one collected bitset across many batches can justify
    # dense at larger m than the per-call default assumes.
    dense_ok = m_bits <= (1 << 24) if dense_path is None else dense_path
    pos = _bloom_positions(F.col("__fp"), m_bits, k)
    if dense_ok:
        import numpy as np
        import pandas as pd

        nwords = (m_bits + 63) >> 6
        bitset = np.zeros(nwords, dtype=np.int64)
        # <= m_bits/64 rows by construction
        for r in bloom_df.select("word", "mask").collect():
            if r["word"] >= nwords:
                raise ValueError(
                    f"bloom_df stores word index {r['word']} >= "
                    f"{nwords} words for m_bits={m_bits}: the filter "
                    "was built with different params. A param mismatch "
                    "is CORRUPTING (silent Bloom false negatives), not "
                    "suboptimal — rebuild with fingerprint_bloom, which "
                    "stamps m_bits/k onto the bitset so the probe "
                    "adopts them automatically"
                )
            bitset[r["word"]] = r["mask"]
        bc = new_df.sparkSession.sparkContext.broadcast(bitset)

        @F.pandas_udf("boolean")
        def _probe(words, masks):  # type: ignore[no-untyped-def]
            bs = bc.value
            if len(words) == 0:
                return pd.Series([], dtype=bool)
            W = np.asarray(words.tolist(), dtype=np.int64)
            M = np.asarray(masks.tolist(), dtype=np.int64)
            hit = (bs[W] & M) == M
            return pd.Series(hit.all(axis=1))

        # lazy localCheckpoint: both legs (candidates + definite-new)
        # and the candidate-fp semi filter consume this frame — without
        # it the within-batch window and the probe UDF re-run per leg
        # (measured 2x at 320k)
        flagged = reps.withColumn(
            "__cand",
            _probe(pos.getField("word"), pos.getField("mask")),
        ).localCheckpoint(eager=False)
        maybe_dup = flagged.filter(F.col("__cand")).drop("__cand")
        definitely_new = flagged.filter(~F.col("__cand")).drop("__cand")
    else:
        if not ({"m_bits", "k"} <= set(bloom_df.columns)):
            # legacy param-less bitset on the sparse path: the probe
            # joins on word, so an out-of-range stored word would just
            # never match — i.e. silent false negatives. One tiny agg
            # (<= m_bits/64 rows) buys the same loud failure the dense
            # path gets from its bound check.
            top = bloom_df.agg(F.max("word").alias("w")).first()
            nwords = (m_bits + 63) >> 6
            if top is not None and top["w"] is not None and top["w"] >= nwords:
                raise ValueError(
                    f"bloom_df stores word index {top['w']} >= {nwords} "
                    f"words for m_bits={m_bits}: the filter was built "
                    "with different params. A param mismatch is "
                    "CORRUPTING (silent Bloom false negatives) — "
                    "rebuild with fingerprint_bloom, which stamps "
                    "m_bits/k onto the bitset so the probe adopts them"
                )
        probes = reps.select(
            F.col(id_col).alias("__pid_probe"),
            F.explode(pos).alias("e"),
        ).select(
            "__pid_probe",
            F.col("e.word").alias("word"),
            F.col("e.mask").alias("pmask"),
        )
        hit = (
            F.when(
                F.col("mask").isNotNull()
                & (F.col("mask").bitwiseAND(F.col("pmask")) == F.col("pmask")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
        )
        candidates = (
            probes.join(
                F.broadcast(bloom_df.select("word", "mask")), "word", "left"
            )
            .select("__pid_probe", hit.alias("__hit"))
            .groupBy("__pid_probe")
            .agg(F.min("__hit").alias("__all_hit"))
            .filter(F.col("__all_hit") == 1)
            .select(F.col("__pid_probe").alias(id_col))
        )
        maybe_dup = reps.join(candidates, id_col, "left_semi")
        definitely_new = reps.join(candidates, id_col, "left_anti")
    # (3) exact check for candidates only — and the HISTORY side is
    # semi-filtered by the candidate fingerprints first, so the
    # history is SCANNED (fp computed per row) but never shuffled:
    # the candidate fp set is small (AQE broadcasts it), the matched
    # subset is at most candidate-sized, and the final anti-join runs
    # against that tiny set. Exact: a candidate row is dropped iff its
    # fp is in history, same as anti-joining the full seen set.
    cand_fps = maybe_dup.select("__fp").distinct()
    hist_fps = (
        history_df.select(fp.alias("__fp"))
        if history_fp_df is None
        # rolling-corpus shape: a PERSISTED distinct-fingerprint table
        # (one `__fp` column) — history text is then never re-read or
        # re-hashed per batch
        else history_fp_df.select("__fp")
    )
    # stream the big history side against the (AQE-broadcast) candidate
    # set: output is at most candidate-sized, history never shuffles
    seen_hit = hist_fps.join(cand_fps, "__fp", "left_semi")
    verified_new = maybe_dup.join(seen_hit, "__fp", "left_anti")
    return definitely_new.unionByName(verified_new).drop("__fp")


def build_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle: int = 5,
    keep_grams: bool = True,
) -> DataFrame:
    """Persistable MinHash signature index for incremental near-dedup:
    one row per document with ``(id, __grams array<long>, __sig
    array<long>)``. Write it once (e.g. ``plans.versioned.
    write_version``) and every later crawl batch dedups against it via
    :func:`near_dup_pairs_against_index` WITHOUT re-reading or
    re-signing the historical corpus — the index is ~8·(num_hashes +
    |shingle set|) bytes per doc, not the text.

    ``keep_grams=False`` (round 11) drops the shingle arrays from the
    stored index — ~95% of its bytes at typical document lengths
    (SCALE_NOTES: serving-index memory budget) — leaving a pure
    signature index (~8·num_hashes bytes/doc). Such an index supports
    banding and ``verify="signature"`` (estimated Jaccard) but not the
    default exact-grams verification; the probe refuses the mismatch
    loudly. The shingles are still computed (they ARE the signature's
    input), just not stored.

    Same signature family as :func:`near_dup_pairs_minhash`
    (seeded multiply-add permutations over base-257 byte shingles), so
    index and batch signatures are directly comparable.
    """
    out = _shingle_minhash_numpy(df, id_col, text_col, num_hashes, shingle)
    return out if keep_grams else out.drop("__grams")


def _band_buckets(
    sig_df: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    sig_col: str = "__sig",
    expected_len: int | None = None,
) -> DataFrame:
    """(id, band, bucket) — one row per (doc, band slice); the shared
    LSH banding explode behind :func:`lsh_candidate_pairs` and
    :func:`near_dup_pairs_against_index`.

    ``expected_len`` adds an in-plan guard (a per-row ``when`` on the
    signature length feeding ``raise_error``) used when the signatures
    come from a PERSISTED index: banding a stored signature shorter
    than ``num_hashes`` would silently hash empty slices and miss
    every cross pair, so a mismatch must fail the job loudly. The
    guard is lazy on purpose — an eager one-row probe would force a
    blocking materialization of lazily-checkpointed inputs."""
    if expected_len is not None:
        msg = (
            f"stored signature length != num_hashes={expected_len} — "
            "rebuild the index or pass the num_hashes it was built with"
        )
        sig_df = sig_df.withColumn(
            sig_col,
            F.when(
                F.size(F.col(sig_col)) == expected_len, F.col(sig_col)
            ).otherwise(F.raise_error(F.lit(msg))),
        )
    return sig_df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(
                            F.col(sig_col), b * rows_per_band + 1, rows_per_band
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")


def build_minhash_band_index(
    index_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Persistable LSH BAND table for a stored MinHash signature index:
    ``(id, band, bucket)``, one row per (doc, band slice) — the banding
    explode of :func:`near_dup_pairs_against_index`'s index side,
    precomputed. Build it once next to the signature index (same
    ``num_hashes``/``bands`` — that pairing is the caller's contract,
    like the signature length itself) and pass it via
    ``index_bands_df``: each crawl batch then skips re-banding the
    CORPUS-SIZED index (an index-length explode + xxhash per call —
    harmless at sf0.1, an index-scan-sized recomputation per batch at
    100 TB). The in-plan signature-length guard runs here, at build
    time, and the table is SELF-DESCRIBING: ``__nh``/``__bands``
    columns carry the build parameters (RLE-free in parquet) so the
    probe can refuse a stale table loudly instead of silently missing
    every cross pair (round-8 review fix)."""
    rows_per_band = max(1, num_hashes // bands)
    return (
        _band_buckets(
            index_df, id_col, bands, rows_per_band, expected_len=num_hashes
        )
        .select(F.col("__id").alias(id_col), "band", "bucket")
        .withColumn("__nh", F.lit(num_hashes))
        .withColumn("__bands", F.lit(bands))
    )


def near_dup_pairs_against_index(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    shingle: int = 5,
    bands: int = 8,
    max_bucket_size: int | None = None,
    round_digits: int | None = 6,
    index_bands_df: DataFrame | None = None,
    verify: str = "grams",
) -> DataFrame:
    """Incremental near-dedup: MinHash-LSH pairs between a NEW batch
    and a persisted signature index (:func:`build_minhash_index`),
    plus pairs within the new batch itself — the rolling-corpus shape
    where only the new crawl pays the shingle/signature cost.

    ``verify`` selects the candidate-verification stage (round 11):

    - ``"grams"`` (default): exact shingle-set Jaccard from the stored
      ``__grams`` arrays — the oracle-exact mode every facet uses.
    - ``"signature"``: Jaccard ESTIMATED as the fraction of matching
      MinHash components (the estimator the signatures exist for) —
      no grams are read on either side, so a signature-ONLY index
      (:func:`build_minhash_index` with ``keep_grams=False``, ~11x
      smaller measured: 213 -> 19.7 MB at 80k docs) suffices and the verify join moves ~1 KB/doc instead
      of corpus-text-scale arrays. The estimate is unbiased with
      std ≈ sqrt(j(1-j)/num_hashes) (~0.06 at j=0.5, num_hashes=64),
      so pairs near ``threshold`` can flip relative to exact verify;
      deterministic for a fixed seed/corpus. This is the 100 TB
      serving mode SCALE_NOTES' memory-budget section describes —
      re-verify near-threshold pairs from text downstream if the
      boundary matters.

    Returns ``(id_new, id_match, jaccard_sim)`` with ``id_match <
    id_new`` for within-batch pairs (earlier doc is the survivor, the
    same min-id convention as :func:`incremental_dedup`); index ids
    must be disjoint from batch ids — that is the CALLER's contract.
    The in-plan guard (below) turns the common violation (a replayed
    batch whose identical text still collides with its own index copy)
    into a loud failure, but it is best-effort: a replayed doc whose
    every bucket is dropped by ``max_bucket_size``, or a reused id
    carrying different text, does not collide with itself and is not
    detected. Exact shingle-Jaccard verification runs only on bucket
    collisions, with the same rounded-before-cut ``round_digits``
    boundary as :func:`near_dup_pairs_minhash`.

    Scale shape: the batch is signed ONCE (one Arrow pass,
    checkpointed at the heap-adaptive :func:`_sig_checkpoint_level`)
    and that frame feeds the banding and the verify. The index side
    contributes only its STORED signatures to the banding explode (no
    text is read) and only colliding docs' stored shingle arrays to the
    verify join; both sides band into one frame so ``max_bucket_size``
    caps the TRUE bucket population (batch + index) before the
    self-join. The candidate pairs are counted once. When they fit a
    fixed byte budget (the ``index_probe_broadcast`` site of
    :mod:`plans.bounded`), the pairs are broadcast into the batch-
    signature scan and that candidate-sized result into the index-grams
    scan: verification then moves no shuffle at all. Above the budget,
    verification is a SHUFFLE_HASH join whose partition count is
    computed from the candidate count, so the hash build stays within
    a fixed per-partition byte budget. With ``index_bands_df`` (a
    persisted :func:`build_minhash_band_index` table) even the
    index-side banding explode is precomputed, leaving the per-batch
    plan fully batch-sized except for the band join and the colliding
    grams.

    The index's stored signature length must equal ``num_hashes`` —
    banding a shorter stored signature would silently hash empty
    slices on the index side and miss every cross pair, so an in-plan
    guard fails the job on the first mismatching row.
    """
    # heap-adaptive level for the gram-carrying batch signatures —
    # same heap-for-hash-build trade as near_dup_pairs_minhash
    new_sig = _shingle_minhash_numpy(
        new_df, id_col, text_col, num_hashes, shingle
    ).localCheckpoint(
        eager=False, storageLevel=_sig_checkpoint_level(new_df.sparkSession)
    )
    return _probe_index(
        new_sig, index_df, id_col, threshold, num_hashes, bands,
        max_bucket_size, round_digits, index_bands_df, verify,
    )


# Byte budget of the broadcast verify in _probe_index: candidate pairs
# times one pessimistic build row each (see _probe_index). Equal to
# _verify_partitions' per-partition hash-build budget, so a candidate
# set that takes the broadcast would fit one shuffle partition anyway.
_PROBE_BROADCAST_BYTES = 32 << 20


def _probe_index(
    new_sig: DataFrame,
    index_df: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
    round_digits: int | None = 6,
    index_bands_df: DataFrame | None = None,
    verify: str = "grams",
) -> DataFrame:
    """:func:`near_dup_pairs_against_index` on an already-signed batch
    ``new_sig`` (:func:`build_minhash_index` rows, checkpointed by the
    caller: the banding and the verify both read it). Lets an ingest
    sign each micro-batch once and reuse the signed frame for its index
    and drop-log deltas."""
    from fugue_warehouses_spark.plans import bounded

    if verify not in ("grams", "signature"):
        raise ValueError(
            f"verify must be 'grams' or 'signature', got {verify!r}"
        )
    if verify == "grams" and "__grams" not in index_df.columns:
        raise ValueError(
            "index has no __grams column (signature-only index?) — "
            "exact verification needs the stored shingle arrays; pass "
            "verify='signature' to estimate Jaccard from the "
            "signatures instead"
        )
    rows_per_band = max(1, num_hashes // bands)
    if index_bands_df is not None:
        # prebuilt band table (build_minhash_band_index): the
        # index-sized explode already ran at index-build time, and so
        # did the signature-length guard. A table built with DIFFERENT
        # num_hashes/bands silently misses every cross pair (buckets
        # hash different slices), so verify the self-describing
        # build-parameter columns IN-PLAN (lazy raise_error on the
        # first row — no extra job); a hand-built table without them
        # is accepted on the documented caller's contract.
        cols = set(index_bands_df.columns)
        guarded = index_bands_df
        if "__nh" in cols and "__bands" in cols:
            msg = (
                f"stored band table was built with different "
                f"num_hashes/bands than this call (num_hashes="
                f"{num_hashes}, bands={bands}) — rebuild it with "
                "build_minhash_band_index or pass matching params"
            )
            guarded = index_bands_df.withColumn(
                "band",
                F.when(
                    (F.col("__nh") == num_hashes)
                    & (F.col("__bands") == bands),
                    F.col("band"),
                ).otherwise(F.raise_error(F.lit(msg))),
            )
        idx_banded = guarded.select(
            F.col(id_col).alias("__id"), "band", "bucket"
        )
    else:
        idx_banded = _band_buckets(
            index_df, id_col, bands, rows_per_band,
            expected_len=num_hashes,
        )
    banded = (
        _band_buckets(new_sig, id_col, bands, rows_per_band)
        .withColumn("__new", F.lit(True))
        .unionByName(idx_banded.withColumn("__new", F.lit(False)))
    )
    banded = _cap_buckets(banded, max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=["band", "bucket"], how="inner")
        # left side is always the new doc; right side is an index doc
        # or an earlier (smaller-id) doc of the same batch
        .filter(
            F.col("a.__new")
            & (~F.col("b.__new") | (F.col("b.__id") < F.col("a.__id")))
        )
        .select(
            F.col("a.__id").alias("id_new"), F.col("b.__id").alias("id_match")
        )
        .distinct()
        # read by the count below and by the verify (twice on the
        # shuffle branch): materialize the banding join once
        .localCheckpoint(eager=False)
    )
    # Verify strategy from the candidate count (pairs are checkpointed
    # — counting them materializes the banding join once for all
    # consumers; an exchange-free count, and n_pairs >= distinct ids).
    # Every candidate pair carries at most one batch-side array into
    # the broadcast; gram lengths are unknown without a pass over the
    # batch, so each is costed at the pessimistic 4096 grams.
    n_cand_ids = pairs.count()
    vcol = "__sig" if verify == "signature" else "__grams"
    row_len = float(num_hashes) if verify == "signature" else 4096.0
    broadcast = bounded.driver_fast_path_ok(
        "index_probe_broadcast",
        broadcast_bytes=(
            n_cand_ids * (16.0 + _build_row_bytes(row_len)),
            _PROBE_BROADCAST_BYTES,
        ),
    )
    # Disjointness guard (lazy in-plan raise_error, like the signature-
    # length guard), shaped as a FILTER over the post-distinct pair
    # set: a batch doc colliding with its OWN index copy (batch
    # replayed after indexing) produces an id_new == id_match pair
    # here, so fail loudly instead of emitting a silent jaccard-1.0
    # self-pair. A filter predicate survives column pruning (a
    # projection guard is dropped under count()), and it must NOT sit
    # on the pre-distinct projection: there the optimizer infers
    # isnotnull(<guard CASE>) from the aggregate/join keys and hoists
    # it into the bucket-join condition, firing on ordinary
    # within-batch band self-collisions that the adjacent filter
    # excludes.
    guard = F.when(
        F.col("id_new") == F.col("id_match"),
        F.raise_error(
            F.lit(
                "near_dup_pairs_against_index: id present in both "
                "the new batch and the index — index ids must be "
                "disjoint from batch ids (was the batch replayed "
                "after indexing?)"
            )
        ).isNotNull(),
    ).otherwise(F.lit(True))
    if broadcast:
        # small candidate set: the guarded pairs are broadcast into the
        # batch-signature scan, and that candidate-sized result into
        # the batch+index array scan — two broadcast hash joins, no
        # distinct aggregate, no repartition, no shuffle
        nparts = None
        ga = F.broadcast(pairs.filter(guard)).join(
            new_sig.select(
                F.col(id_col).alias("id_new"), F.col(vcol).alias("__ga")
            ),
            "id_new",
        )
        verified = (
            new_sig.select(F.col(id_col), F.col(vcol))
            .unionByName(index_df.select(F.col(id_col), F.col(vcol)))
            .select(
                F.col(id_col).alias("id_match"), F.col(vcol).alias("__gb")
            )
            .join(F.broadcast(ga), "id_match")
        )
    else:
        # id_new is always a batch doc, so the left verify side joins
        # the batch arrays only; only id_match (index doc or earlier
        # batch doc) needs the batch+index union — the stored index
        # shingle arrays (the dominant index bytes) are read once, not
        # twice. Both sides are SEMI-FILTERED to ids that actually
        # collide before their arrays ride the verify shuffle (same
        # candidate-sized-not-corpus-sized discipline as
        # near_dup_pairs_minhash), and the SHUFFLE_HASH build OOMs
        # instead of spilling, so the partition count is computed from
        # the candidate set. The gram-length average comes from the
        # batch signatures (cached, batch-sized); index docs are
        # assumed same-corpus-distributed, absorbed by the sizing's
        # safety factor.
        par = new_sig.sparkSession.sparkContext.defaultParallelism
        if verify == "signature":
            # fixed-width rows (num_hashes int64 components): no
            # gram-length pass exists to pay
            nparts = _verify_partitions(n_cand_ids, float(num_hashes), par)
        # same fast path as near_dup_pairs_minhash: only pay the
        # gram-length pass when a pessimistic 64 KB/row could overflow
        # default partitions
        elif n_cand_ids and _verify_partitions(n_cand_ids, 4096.0, par) > par:
            avg_len = (
                new_sig.agg(F.avg(F.size("__grams")).alias("g")).first()["g"]
                or 0.0
            )
            nparts = _verify_partitions(n_cand_ids, avg_len, par)
        else:
            nparts = par
        ga = (
            new_sig.select(
                F.col(id_col).alias("id_new"), F.col(vcol).alias("__ga")
            )
            .join(pairs.select("id_new").distinct(), "id_new", "left_semi")
            .repartition(nparts, F.col("id_new"))
            .hint("shuffle_hash")
        )
        gb = (
            new_sig.select(F.col(id_col), F.col(vcol))
            .unionByName(index_df.select(F.col(id_col), F.col(vcol)))
            .withColumnRenamed(id_col, "id_match")
            .join(
                pairs.select("id_match").distinct(), "id_match", "left_semi"
            )
            .select("id_match", F.col(vcol).alias("__gb"))
            .repartition(nparts, F.col("id_match"))
            .hint("shuffle_hash")
        )
        verified = pairs.filter(guard).join(ga, "id_new").join(gb, "id_match")
    # the sizing inputs ride along, so a pair-count overshoot of the
    # partition count (n_pairs >> distinct ids) shows in the record
    bounded.decisions["index_probe_broadcast"].update(
        n_cand_ids=n_cand_ids, nparts=nparts
    )
    na, nb = F.size(F.col("__ga")), F.size(F.col("__gb"))
    if verify == "signature":
        # unbiased MinHash estimator: fraction of matching components.
        # zip_with pairs the two stored arrays positionally; both are
        # length num_hashes (the stored-length guard ran at banding).
        sim = F.aggregate(
            F.zip_with(
                F.col("__ga"),
                F.col("__gb"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        ) / F.lit(float(num_hashes))
    else:
        sim = jaccard(F.col("__ga"), F.col("__gb"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    pre_thr = threshold - _round_eps(round_digits)
    if verify == "grams":
        # gram-count prefilter: |a∩b|/|a∪b| can't reach the threshold
        # when the set SIZES already forbid it. Signature arrays are
        # all num_hashes long, so the same inequality is vacuous there.
        verified = verified.filter(
            F.least(na, nb) >= F.lit(pre_thr) * F.greatest(na, nb)
        )
    return (
        verified.withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_new", "id_match", "jaccard_sim")
    )
