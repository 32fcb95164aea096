"""Deduplication operators: exact (hash-groupBy), n-gram Jaccard,
MinHash+LSH (shingle → minhash → band → bucket-join), SimHash.

Scale design (the point of these at 100 TB):

- exact dedup is one shuffle on the content hash;
- n-gram Jaccard NEVER compares all pairs — candidate generation is an
  equi-join on a blocking key (shared shingle, or an LSH band bucket),
  so cost follows the true near-dup density, not n²;
- frequency capping drops ultra-common shingles before the self-join
  (a stop-shingle appearing in k docs would alone create k² candidate
  rows — classic skew);
- the MinHash family defaults to md5-derived hash functions so the
  DuckDB oracle can reproduce signatures bit-for-bit; pass
  ``hasher='xxhash64'`` to ``minhash_signatures`` for the faster
  native production mode;
- oversized LSH band buckets are salt-split, never collected whole or
  silently dropped (``banded_buckets``), and the exploded shingle
  table is materialized once and shared across stages
  (``reuse_shingles``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Shared-subtree materialization under the SESSION CHECKPOINT
    POLICY ``spark.graft.checkpoint`` (optimization r13, guide §5 —
    the r12 verdict's fault-tolerance note made explicit):

    - ``local`` (default): ``localCheckpoint`` — blocks live on
      executor MEMORY_AND_DISK with NO recompute path, so on a real
      cluster an executor loss mid-query fails the job instead of
      recomputing. The right trade for a deterministic batch query
      that simply re-runs, and the only mode with zero infrastructure
      requirements — but it is a durability choice, hence the knob.
    - ``reliable``: ``Dataset.checkpoint`` into the configured
      checkpoint directory (``spark.graft.checkpoint.dir``, or a
      directory already set via ``sparkContext.setCheckpointDir``) —
      survives executor loss; for long-running production jobs.
    - ``off``: no materialization — the shared subtrees re-enter the
      plan and AQE's ReusedExchange deduplicates what it can at
      runtime (the pre-r12 behavior).

    Results are identical in every mode; only plan shape, recompute
    semantics and storage residency change."""
    from pyspark.sql import SparkSession

    mode = "local"
    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            mode = spark.conf.get("spark.graft.checkpoint", "local")
        except Exception:
            pass
    if mode == "off":
        return df
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            d = None
            try:
                d = df.sparkSession.conf.get(
                    "spark.graft.checkpoint.dir", None
                )
            except Exception:
                pass
            if d is None:
                raise ValueError(
                    "spark.graft.checkpoint=reliable needs a checkpoint"
                    " directory: set spark.graft.checkpoint.dir or call"
                    " sparkContext.setCheckpointDir first"
                )
            sc.setCheckpointDir(d)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition before compute-heavy per-row work (shingling, md5).

    A small parquet file arrives as ONE partition regardless of cluster
    size — row-groups don't split — so hash pipelines would run on a
    single core. One cheap shuffle of the raw rows unlocks full
    parallelism; at real scale the input is already many splits and
    this is a near-no-op rebalance."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def exact_dedup(df: DataFrame, id_col: str = "doc_id", col: str = "text") -> DataFrame:
    """Exact duplicate groups: (content md5, representative id, count).
    One hash-shuffle; the representative is min(id) for determinism."""
    return (
        df.select(F.md5(F.col(col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )


def shingles(col: str = "text", k: int = 3) -> Column:
    """Distinct k-token shingles of a space-separated text column.
    Documents shorter than k tokens yield an empty set.

    NOTE: prefer ``shingle_sets`` on a DataFrame — this expression
    embeds the tokenizer, and inside transform() lambdas Spark
    re-evaluates embedded subexpressions per element (the split would
    run ~3x per shingle)."""
    return _shingle_arr(F.split(F.col(col), " "), k)


def _shingle_arr(t: Column, k: int) -> Column:
    """k-shingles as an index transform over the MATERIALIZED token
    array: per shingle, k element_at lookups + one concat. ``t`` must
    be a plain column reference — transform() lambdas re-evaluate
    embedded subexpressions per element, so an inline tokenizer here
    would re-split the text per shingle (measured ~100x slower); with
    materialized tokens this beats the slice+zip_with formulation by
    ~30% (no k intermediate array copies). Docs shorter than k tokens
    take the empty branch — guarded, because sequence(1, 0) DESCENDS
    in Spark and would fabricate shingles."""
    shingles_ = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(k)]
            ),
        )
    )
    return F.when(F.size(t) >= k, shingles_).otherwise(
        F.array().cast("array<string>")
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", col: str = "text", k: int = 3
) -> DataFrame:
    """(did, ss) with the token array MATERIALIZED before shingling —
    subexpression elimination does not reach into transform() lambdas,
    so tokenizing into a column first avoids re-splitting the text for
    every element_at (a ~100x hot-path difference)."""
    toks = df.select(
        F.col(id_col).alias("did"), F.split(F.col(col), " ").alias("__t")
    )
    return toks.select("did", _shingle_arr(F.col("__t"), k).alias("ss"))


def _explode_ss(ss_df: DataFrame) -> DataFrame:
    """Explode the shingle-set column WITHOUT triggering Spark's
    InferFiltersFromGenerate: plain explode() makes the optimizer add a
    size(ss) > 0 pre-filter and push it below the token projection with
    the WHOLE shingle expression inlined — the split then re-evaluates
    per transform element, interpreted, per row, twice (measured 20x on
    the signature stage). explode_outer infers no filter; the null drop
    on the GENERATED column cannot be pushed below the Generate."""
    return (
        ss_df.select("did", F.explode_outer("ss").alias("s"))
        .where(F.col("s").isNotNull())
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, col: str, k: int, max_freq: int | None
) -> DataFrame:
    ex = _explode_ss(shingle_sets(_spread(df, id_col), id_col, col, k))
    if max_freq is not None:
        # stop-shingle cap: a shingle in >max_freq docs is blocked from
        # candidate generation (skew guard; pure semantics preserved
        # because verification uses full shingle sets).
        freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
        ex = ex.join(freq.where(F.col("f") <= max_freq), "s")
    return ex.select("did", "s")


def _pairs_from_groups(grouped: DataFrame, ids_col: str = "ids") -> DataFrame:
    """All (i, j) pairs with i<j from a column of sorted id arrays —
    higher-order functions instead of a self-join, so the upstream DAG
    executes ONCE and no cache is needed."""
    pairs = F.expr(
        f"flatten(transform({ids_col}, (x, i) -> "
        f"transform(slice({ids_col}, i + 2, size({ids_col})), "
        f"y -> struct(x AS i, y AS j))))"
    )
    # AQE coalesces the tiny bucket shuffle to ~1 partition; the pair
    # expansion is interpreted (higher-order fns, no codegen) so spread
    # it back out before exploding
    return _spread(grouped).select(F.explode(pairs).alias("p")).select("p.i", "p.j")


def banded_buckets(
    stacked: DataFrame,
    bucket_cap: int | None = 1000,
    obs=None,
) -> DataFrame:
    """(did, band_id, key) → candidate buckets, with oversized buckets
    SPLIT rather than collected whole or silently dropped.

    The 100 TB skew guard: a degenerate band key (millions of
    empty/boilerplate docs sharing one signature) would otherwise
    collect one giant id array on a single task and expand ~n² pairs
    there. Here bucket size is computed with a window count over the
    SAME shuffle the grouping needs — hash partitioning by
    (band_id, key) also satisfies the salted groupBy's clustering
    requirement, so the split costs no second exchange — and buckets
    over ``bucket_cap`` split into ceil(n/cap) sub-buckets by
    ``did % nsplit`` (engine-reproducible; ids are near-sequential at
    every scale we ingest, so the modulus is uniform). Memory and pair
    expansion per task are bounded by cap²; the only recall loss is
    cross-sub-bucket pairs inside buckets that were already
    pathological (identical-doc floods belong to exact_dedup anyway).

    Nothing is dropped silently: each output row keeps the pre-split
    bucket size ``__bn``, ``minhash_band_stats`` exposes the audit
    view, and an optional ``pyspark.sql.Observation`` receives
    (n_buckets, n_split_sub_buckets, max_raw_bucket) at action time.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    w = Window.partitionBy("band_id", "key")
    withn = stacked.withColumn("__bn", F.count(F.lit(1)).over(w)).where(
        F.col("__bn") > 1
    )
    if bucket_cap is not None:
        nsplit = F.ceil(F.col("__bn") / F.lit(bucket_cap)).cast("long")
        # integral ids split by plain modulus (oracle-reproducible,
        # near-sequential ids => uniform); any other id type (string /
        # uuid) is hashed first — pmod on a non-numeric column would
        # yield NULL and silently collapse the whole oversized bucket
        # into one sub-bucket, defeating the cap
        did_t = stacked.schema["did"].dataType
        split_key = (
            F.col("did")
            if isinstance(did_t, (LongType, IntegerType, ShortType, ByteType))
            else F.xxhash64(F.col("did"))
        )
        salt = F.when(F.col("__bn") <= bucket_cap, F.lit(0)).otherwise(
            F.pmod(split_key, nsplit)
        )
    else:
        salt = F.lit(0)
    buckets = (
        withn.withColumn("__salt", salt)
        .groupBy("band_id", "key", "__salt")
        .agg(
            F.sort_array(F.collect_set("did")).alias("ids"),
            F.first("__bn").alias("__bn"),
        )
        .where(F.size("ids") > 1)
    )
    if obs is not None:
        cap = bucket_cap if bucket_cap is not None else 2**62
        buckets = buckets.observe(
            obs,
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("__bn") > cap).cast("long")).alias("n_split_sub_buckets"),
            F.max("__bn").alias("max_raw_bucket"),
        )
    return buckets


def _shingle_pair_counts(
    ex: DataFrame, bucket_cap: int = 1000, obs=None
) -> DataFrame:
    """|A∩B| per doc pair from exploded (did, s): bucket by shingle,
    emit in-bucket pairs, count per pair.

    Buckets over ``bucket_cap`` are EXCLUDED from candidate generation
    — unlike the band buckets (split in ``banded_buckets``), a shingle
    bucket is an intersection *count* contributor, so splitting it
    would undercount |A∩B| and corrupt Jaccard values; dropping it is
    the stop-shingle semantic (the shingle is too common to be
    discriminative). When callers pass ``max_freq <= bucket_cap`` (the
    default path: 100 <= 1000) the cap is provably unreachable — every
    bucket is a doc set sharing one shingle, already filtered to
    ``<= max_freq`` docs. The cap only bites when max_freq is None, and
    then it is surfaced, not silent: pass an ``Observation`` to receive
    (n_buckets, n_dropped_buckets, max_bucket) at action time."""
    grouped = ex.groupBy("s").agg(
        F.sort_array(F.collect_set("did")).alias("ids")
    ).where(F.size("ids") > 1)
    if obs is not None:
        grouped = grouped.observe(
            obs,
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.size("ids") > bucket_cap).cast("long")).alias(
                "n_dropped_buckets"
            ),
            F.max(F.size("ids")).alias("max_bucket"),
        )
    buckets = grouped.where(F.size("ids") <= bucket_cap)
    return _pairs_from_groups(buckets).groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("inter")
    )


def _jac_e4(inter: Column, ni: Column, nj: Column) -> Column:
    """floor(10000 · |∩| / (|A|+|B|−|∩|)) — THE scaled-Jaccard formula,
    used by the edge generator and the wedge audit's verification
    column alike so the two can never silently diverge."""
    return F.floor((inter / (ni + nj - inter)) * 10000).cast("long")


def _jaccard_edges(ex: DataFrame, sizes: DataFrame) -> DataFrame:
    """(i, j, jac_e4) for every candidate pair from the capped exploded
    shingle table ``ex`` and full-set sizes ``sizes`` — the ONE
    canonical near-dup edge definition (floor-scaled Jaccard: capped
    intersection over full-set union), shared by
    ``ngram_jaccard_pairs`` (the generator) and ``dup_wedge_gaps``
    (the audit), so the audited graph can never silently diverge from
    the generated one.

    ``sizes`` feeds two joins (the i side and the j side); callers for
    whom the sizes pipeline is a full pass over the exploded shingle
    table should hand in a materialized frame (ngram_jaccard_pairs
    does — one pass instead of two). NOT materialized here: the wedge
    audits layer their own eager checkpoints on this function's
    output, and a lazy checkpoint nested under those measured 1.8x
    SLOWER end-to-end (docs_dup_wedge_gaps_dense 7.8 s -> 13.8 s in
    the r12 A/B), so the decision belongs to the caller."""
    inter = _shingle_pair_counts(ex)
    si = sizes.select(F.col("did").alias("i"), F.col("nsh").alias("ni"))
    sj = sizes.select(F.col("did").alias("j"), F.col("nsh").alias("nj"))
    jac = _jac_e4(F.col("inter"), F.col("ni"), F.col("nj"))
    return (
        inter.join(si, "i").join(sj, "j").select("i", "j", jac.alias("jac_e4"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    threshold_e4: int = 3000,
    max_freq: int | None = 100,
    reuse_shingles: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by exact k-gram Jaccard ≥ threshold.

    Candidate generation is bucket-by-shingle (cost follows true
    near-dup density, never n²); Jaccard emitted floor-scaled:
    jac_e4 = floor(10000·|∩| / (|A|+|B|−|∩|)).

    ``reuse_shingles``: materialize the exploded shingle table once
    instead of re-evaluating the tokenize+shingle pipeline for each of
    its ~4 consumers (sizes, frequency filter, bucket grouping) —
    measured 1.5× at sf0.1. The exploded table is ~|shingles per doc|×
    the corpus row count; on a cluster whose ephemeral storage can't
    hold that, pass False to trade the materialization for recompute
    (same results either way — sizes from the exploded distinct set
    equal size(ss), and docs shorter than k tokens have no shingles so
    they can never reach a pair).

    HOW intermediates materialize is the session checkpoint policy
    ``spark.graft.checkpoint`` (see ``_materialize``): the ``local``
    default truncates lineage with executor-resident blocks — fast,
    but an executor loss mid-query fails the job instead of
    recomputing; set ``reliable`` for fault-tolerant checkpoints on
    long-running clusters or ``off`` to keep pure lineage."""
    if reuse_shingles:
        ex_all = _materialize(
            _explode_ss(shingle_sets(_spread(df, id_col), id_col, col, k)),
            eager=True,
        )
        sizes = ex_all.groupBy("did").agg(F.count(F.lit(1)).alias("nsh"))
        if max_freq is not None:
            freq = ex_all.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
            ex = ex_all.join(freq.where(F.col("f") <= max_freq), "s").select(
                "did", "s"
            )
        else:
            ex = ex_all
    else:
        ex = _exploded_shingles(df, id_col, col, k, max_freq)
        sizes = shingle_sets(df, id_col, col, k).select(
            "did", F.size("ss").alias("nsh")
        )
    # sizes feeds the i-side and j-side joins in _jaccard_edges; a lazy
    # materialization here turns two full passes over the exploded
    # table into one (corpus-row-sized blocks; measured ~1 s on the
    # composed docs_clean_corpus at sf0.1 — optimization r12). Scoped
    # to THIS generator: the wedge audits, which wrap _jaccard_edges in
    # their own eager checkpoints, regressed with it (see
    # _jaccard_edges' docstring).
    sizes = _materialize(sizes)
    return _jaccard_edges(ex, sizes).where(F.col("jac_e4") >= threshold_e4)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    hasher: str = "md5",
    ex: DataFrame | None = None,
    as_long: bool = False,
) -> DataFrame:
    """MinHash signature per document, ONE pass over exploded shingles.

    ``hasher='md5'`` (default): each md5 yields FOUR independent 32-bit
    minhash functions (8-hex-char substrings), so 16 functions cost 4
    md5 calls per shingle, not 16. Fixed-width hex compares
    lexicographically == numerically, and every engine reproduces it —
    the oracle-comparable mode.

    ``hasher='xxhash64'``: the production/scale mode — native seeded
    xxhash64 yields TWO 32-bit functions per call as longs (no hex
    strings, no substring mins); measured ~1.4x faster end-to-end at
    500k docs (shingle construction, not hashing, dominates the stage).
    Same signature semantics, different (engine-specific) hash values,
    so not DuckDB-comparable.

    ``ex``: optional pre-built exploded (did, s) frame — pass it when
    the caller shares the shingle pipeline across stages (see
    ngram_jaccard_pairs' reuse_shingles).

    ``as_long``: return the md5-mode signature columns as their exact
    numeric values (the 32-bit hex substring parsed base-16) instead
    of hex strings. The hex→long map is a bijection on fixed-width
    lowercase hex, so min-comparisons agree and the default hex output
    is reconstructed EXACTLY as lower(lpad(hex(v), 8, '0')) — but a
    LONG min aggregates in HashAggregateExec (mutable fixed-width
    buffer) where a STRING min falls back to Sort+SortAggregate over
    the whole exploded-shingle table, measured 1.7x slower at 20M
    shingles (optimization r12; plans/r12/docs_minhash_signatures_*).
    Band building only needs equality, so internal callers
    (_minhash_bands) stay in the long domain."""
    if ex is None:
        ex = _explode_ss(shingle_sets(_spread(df, id_col), id_col, col, k))
    if hasher == "xxhash64":
        n_h = (num_hashes + 1) // 2
        hashed = ex.select(
            "did",
            *[F.xxhash64(F.lit(g), F.col("s")).alias(f"h{g}") for g in range(n_h)],
        )
        mask = F.lit(0xFFFFFFFF)
        aggs = [
            F.min(
                F.shiftrightunsigned(F.col(f"h{i // 2}"), 32 * (i % 2)).bitwiseAND(
                    mask
                )
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
        return hashed.groupBy("did").agg(*aggs)
    n_md5 = (num_hashes + 3) // 4
    hashed = ex.select(
        "did",
        *[
            F.md5(F.concat(F.lit(f"{g}#"), F.col("s"))).alias(f"h{g}")
            for g in range(n_md5)
        ],
    )
    aggs = [
        F.min(
            F.conv(F.substring(F.col(f"h{i // 4}"), 1 + 8 * (i % 4), 8), 16, 10)
            .cast("long")
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    sig = hashed.groupBy("did").agg(*aggs)
    if as_long:
        return sig
    return sig.select(
        "did",
        *[
            F.lower(F.lpad(F.hex(F.col(f"mh{i}")), 8, "0")).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )


def _minhash_bands(
    df: DataFrame,
    id_col: str,
    col: str,
    k: int,
    num_hashes: int,
    bands: int,
    ex: DataFrame | None = None,
    hasher: str = "md5",
) -> DataFrame:
    """(did, band_id, key): each document's minhash signature split
    into ``bands`` concatenated band keys, stacked long-form.

    Signatures stay in the long domain (``as_long=True``): band keys
    only need equality, the hex↔long map is bijective per fixed-width
    field and ``concat_ws('|', ...)`` of per-field-bijective values is
    bijective, so bucket membership is IDENTICAL to the hex form while
    the signature aggregation runs hash-based (see minhash_signatures).
    """
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, col, k, num_hashes, hasher, ex=ex, as_long=True
    )
    band_cols = [
        F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("did", *band_cols)
    return banded.select(
        "did",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("did", F.col("bk.band_id"), F.col("bk.key"))


def minhash_band_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Auditable per-band view of the LSH bucket structure — the
    no-silent-caps surface: how many candidate buckets each band
    produced, how many are sub-buckets of a split oversized bucket,
    the largest raw bucket seen, and the candidate-pair mass after
    splitting. A corpus audit reads this next to the dup-pair output
    to see exactly what the skew guard did."""
    buckets = banded_buckets(
        _minhash_bands(df, id_col, col, k, num_hashes, bands), bucket_cap
    )
    cap = bucket_cap if bucket_cap is not None else 2**62
    return buckets.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("__bn") > cap).cast("long")).alias("n_split_sub_buckets"),
        F.max("__bn").alias("max_raw_bucket"),
        F.sum(F.expr("size(ids) * (size(ids) - 1) div 2")).alias("n_cand_pairs"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold_e4: int = 3000,
    max_freq: int | None = 100,
    bucket_cap: int | None = 1000,
    reuse_shingles: bool = True,
    hasher: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band signatures into ``bands``
    buckets, candidate pairs share ≥1 band bucket, then VERIFY
    candidates with exact shingle Jaccard ≥ threshold.

    Candidates come from a collect-per-bucket pair expansion (one pass
    over the signatures — no self-join, no recompute); verification
    explodes shingles ONLY for docs that appear in some candidate pair,
    so its cost follows near-dup density, not corpus size (running the
    full bucket-pair counts here would cost the same as the exact
    algorithm and defeat the LSH). Band buckets over ``bucket_cap``
    are salt-split (see ``banded_buckets``) so a degenerate signature
    shared by millions of docs cannot OOM a task or expand n² pairs.
    Output matches ngram_jaccard_pairs on (i, j, jac_e4) for pairs the
    LSH recalls. ``reuse_shingles`` shares one materialized exploded
    shingle table across the signature, frequency, verification and
    size stages (see ngram_jaccard_pairs for the scale tradeoff, and
    for the ``spark.graft.checkpoint`` policy — local | reliable |
    off — that governs how every intermediate here materializes and
    its fault-tolerance consequences)."""
    ex_all = None
    if reuse_shingles:
        # Lazy on purpose (``_materialize``'s default eager=False),
        # unlike ngram_jaccard_pairs' eager=True: the checkpoint runs
        # with the first action that reads it instead of at
        # construction. Results are the same either way; only when
        # the upstream work is paid changes.
        ex_all = _materialize(
            _explode_ss(shingle_sets(_spread(df, id_col), id_col, col, k)),
        )
    stacked = _minhash_bands(
        df, id_col, col, k, num_hashes, bands, ex=ex_all, hasher=hasher
    )
    buckets = banded_buckets(stacked, bucket_cap)
    # materialize the candidate pairs (tiny: true near-dup density):
    # cand feeds cand_ids (twice), the fi join and the fj join — without
    # the checkpoint the whole signature+bucket pipeline (the expensive
    # half of the query) re-executes once per consumer (~4x, visible as
    # 4 copies of the Sort/Generate/Window subtree in the r11 physical
    # plan — plans/r12/docs_minhash_lsh_before.txt vs _after.txt)
    cand = _materialize(_pairs_from_groups(buckets).distinct())
    # verification: exact Jaccard, restricted to LSH candidates.
    # NOTE max_freq-capped shingles stay excluded from the intersection
    # (identical semantics to ngram_jaccard_pairs); sizes use the full
    # shingle sets, also like the exact path.
    cand_ids = (
        cand.select(F.col("i").alias("did"))
        .unionByName(cand.select(F.col("j").alias("did")))
        .distinct()
    )
    # re-aggregate the candidate docs' (max_freq-filtered) shingles
    # into arrays and intersect per pair natively — a shingle-level
    # pair join would multiply |pairs| x |shingles| rows and blow up
    # exactly when duplicates are dense.
    #
    # FULL sizes and FILTERED lists come out of ONE candidate-restricted
    # pass and ONE materialization (optimization r13 — was two passes +
    # two checkpoints; each lazy localCheckpoint pays its subtree's
    # physical planning at CONSTRUCTION time, ~0.7 s per site on the
    # deep LSH plan): nsh counts every (did, s) row while collect_list
    # skips the NULLs the when() leaves for capped shingles — exactly
    # the rows the old inner freq join dropped. The trailing
    # size(fss) > 0 filter reproduces the old behavior where a
    # candidate doc whose every shingle is capped had NO fs row (inner
    # join dropped its pairs before the threshold did).
    if ex_all is not None:
        exc = ex_all.join(cand_ids, "did", "left_semi")
        if max_freq is not None:
            freq = ex_all.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
            ok = freq.where(F.col("f") <= max_freq).select(
                "s", F.lit(True).alias("__ok")
            )
            fsz = (
                exc.join(ok, "s", "left")
                .groupBy("did")
                .agg(
                    F.count(F.lit(1)).alias("nsh"),
                    F.collect_list(
                        F.when(F.col("__ok"), F.col("s"))
                    ).alias("fss"),
                )
            )
        else:
            fsz = exc.groupBy("did").agg(
                F.count(F.lit(1)).alias("nsh"),
                F.collect_list("s").alias("fss"),
            )
        fsz = fsz.where(F.size("fss") > 0)
    else:
        exf = _exploded_shingles(df, id_col, col, k, max_freq)
        sizes = shingle_sets(df, id_col, col, k).select(
            "did", F.size("ss").alias("nsh")
        )
        fsz = (
            exf.join(cand_ids, "did", "left_semi")
            .groupBy("did")
            .agg(F.collect_list("s").alias("fss"))
            .join(sizes, "did")
        )
    fsz = _materialize(fsz)
    fi = fsz.select(F.col("did").alias("i"), F.col("fss").alias("fi"))
    fj = fsz.select(F.col("did").alias("j"), F.col("fss").alias("fj"))
    inter = (
        cand.join(fi, "i")
        .join(fj, "j")
        .select(
            "i", "j", F.size(F.array_intersect("fi", "fj")).alias("inter")
        )
    )
    si = fsz.select(F.col("did").alias("i"), F.col("nsh").alias("ni"))
    sj = fsz.select(F.col("did").alias("j"), F.col("nsh").alias("nj"))
    jac = F.floor(
        (F.col("inter") / (F.col("ni") + F.col("nj") - F.col("inter"))) * 10000
    ).cast("long")
    return (
        inter.join(si, "i")
        .join(sj, "j")
        .select("i", "j", jac.alias("jac_e4"))
        .where(F.col("jac_e4") >= threshold_e4)
    )


def rowwise_shingles(col: str = "text", k: int = 3):
    """Per-ROW k-gram shingle set as a Column — no explode, no
    shuffle: the streaming-compatible formulation (a stateless map
    can't run the exploded groupBy pipeline). Values are identical to
    ``shingle_sets``; docs shorter than k tokens get an empty set."""
    toks = F.filter(F.split(F.col(col), " "), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(F.size(toks) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def rowwise_minhash(ss, num_hashes: int = 16) -> list:
    """Per-ROW MinHash signature over a shingle-array Column: one
    ``array_min`` per function instead of the exploded groupBy —
    VALUES IDENTICAL to ``minhash_signatures`` (same '<g>#'-seeded md5,
    same 8-hex substrings), so row-wise and exploded signatures
    interoperate (a streaming batch can probe a batch-built index).
    Returns the list of ``num_hashes`` min Columns; empty sets yield
    nulls (callers drop them — no signature, no candidates)."""
    def _h(g: int, part: int):
        # closure factory: default-arg capture would give the lambda
        # extra parameters and PySpark binds HOF arity by signature
        return lambda s: F.substring(
            F.md5(F.concat(F.lit(f"{g}#"), s)), 1 + 8 * part, 8
        )

    return [
        F.array_min(F.transform(ss, _h(i // 4, i % 4))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


_HI_NIBBLES = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash16(df: DataFrame, id_col: str = "doc_id", col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct tokens: bit i set iff the sum over
    tokens of ±1 (sign = high bit of md5 nibble i) is positive.
    md5-nibble signs keep the signature engine-reproducible."""
    # same explode_outer pattern as _explode_ss: a plain explode makes
    # the optimizer push an inlined size()>0 copy of the tokenize+
    # distinct into the scan (see PLANS.md)
    ex = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("did"),
            F.array_distinct(F.split(F.col(col), " ")).alias("tv"),
        )
        .select("did", F.explode_outer("tv").alias("w"))
        .where(F.col("w").isNotNull())
        .withColumn("h", F.md5(F.col("w")))
    )
    bit_sums = [
        F.sum(
            F.when(F.substring(F.col("h"), i + 1, 1).isin(*_HI_NIBBLES), 1).otherwise(
                -1
            )
        ).alias(f"b{i}")
        for i in range(16)
    ]
    agg = ex.groupBy("did").agg(*bit_sums)
    sig = None
    for i in range(16):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("did", sig.cast("long").alias("simhash"))


def _free_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint()``-ed
    DataFrame. ``Dataset.unpersist`` does NOT do this (it only clears
    CacheManager cache entries, and a checkpoint is not a cache entry),
    so an iterative loop that re-checkpoints every round accumulates
    every superseded round's blocks until the JVM happens to GC the
    references — under memory pressure that lands as a driver
    broadcast-build OOM long before ContextCleaner runs (observed at
    500k-doc end-to-end dedup, SCALING.md). Only call once the data is
    fully consumed: the checkpoint truncated lineage, so the blocks are
    the ONLY copy."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.nodeName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a non-checkpointed plan has nothing to free


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "did",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a dup-pair graph by min-label
    propagation: every node starts labeled with its own id; each round
    every node takes the minimum label among itself and its neighbors;
    fixpoint = each component labeled by its smallest member.

    This is the group-resolution step a dedup pipeline needs after
    pair generation — (doc, group_rep) lets "keep one per group" be a
    single filter. Near-dup graphs are dense per component (LSH bucket
    expansion emits near-cliques) and tiny in diameter, so the loop
    converges in 2-3 rounds. Each round is one neighbor-min join +
    groupBy PLUS a pointer-jumping pass (label := label-of-label),
    which doubles the propagation distance per round — convergence is
    O(log diameter), so the default 25 rounds covers any component a
    real corpus can produce (a pure chain of ~2^25 pairwise near-dups)
    rather than aborting at diameter 25. Labels are localCheckpoint()ed
    so lineage doesn't grow with iterations.
    """
    # materialize the (tiny) edge list once — it is joined every
    # round, and without this the whole pair-generation pipeline would
    # re-execute per iteration
    edges = pairs.select(F.col("i").alias("a"), F.col("j").alias("b")).unionByName(
        pairs.select(F.col("j").alias("a"), F.col("i").alias("b"))
    ).localCheckpoint()
    labels = nodes.select(
        F.col(id_col).alias("a"), F.col(id_col).alias("lbl")
    ).localCheckpoint()
    for _ in range(max_iter):
        neighbor = (
            edges.join(
                labels.select(F.col("a").alias("b"), F.col("lbl")), "b"
            ).select("a", "lbl")
        )
        prop = (
            labels.unionByName(neighbor)
            .groupBy("a")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer jumping: every label is itself a node id, so replace
        # each node's label with that label's own current label —
        # halves the remaining chain depth each round (log-diameter
        # convergence). min() is monotone, so the fixpoint is unchanged.
        jump = prop.select(F.col("a").alias("lbl"), F.col("lbl").alias("__l2"))
        new = (
            prop.join(jump, "lbl", "left")
            .select("a", F.coalesce("__l2", "lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("lbl", "old"), "a")
            .where(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        # the superseded round's checkpoint blocks are dead now that
        # `changed` consumed them — free deterministically instead of
        # waiting for a JVM GC (see _free_checkpoint)
        _free_checkpoint(labels)
        labels = new
        if changed == 0:
            _free_checkpoint(edges)
            return labels.select(
                F.col("a").alias(id_col), F.col("lbl").alias("group_rep")
            )
    _free_checkpoint(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Eval-set decontamination: flag every training document sharing
    at least one k-token shingle with a benchmark document — the
    standard guard against test-set leakage into a training corpus.

    Output: (id, n_hits, contaminated) for every training doc.

    Scale shape: the benchmark side (eval suites — thousands of docs,
    ~1e6 distinct shingles) collapses to a DISTINCT shingle set and is
    broadcast, so the fact-sized training corpus is filtered by a map-
    side semi-join — no shuffle of training shingles, no self-join
    anywhere. With a benchmark too large to broadcast the same plan
    degrades gracefully to one shuffle on the shingle key."""
    bench = (
        _explode_ss(shingle_sets(benchmark, id_col, col, k))
        .select("s")
        .distinct()
    )
    ex = _explode_ss(shingle_sets(_spread(train, id_col), id_col, col, k))
    # shingle sets are per-doc distinct, so count(*) = distinct hits
    hits = (
        ex.join(F.broadcast(bench), "s")
        .groupBy("did")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(F.col(id_col))
        .join(hits.withColumnRenamed("did", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    threshold_e4: int = 3000,
    max_freq: int | None = 100,
    max_iter: int = 25,
) -> DataFrame:
    """Near-duplicate GROUPS: n-gram Jaccard pairs resolved into
    connected components — (doc_id, group_rep, is_rep). Keeping rows
    where is_rep = 1 dedups the corpus with one filter. ``max_iter``
    bounds the propagation rounds (log-diameter with pointer jumping;
    see connected_components)."""
    pairs = ngram_jaccard_pairs(
        df, id_col, col, k, threshold_e4=threshold_e4, max_freq=max_freq
    )
    nodes = df.select(F.col(id_col).alias("did"))
    cc = connected_components(nodes, pairs, max_iter=max_iter)
    return cc.select(
        F.col("did").alias(id_col),
        "group_rep",
        (F.col("did") == F.col("group_rep")).cast("int").alias("is_rep"),
    )


def resolve_keep_best(
    groups: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware dedup resolution: per near-dup group, keep the
    member with the HIGHEST score (ties → lowest id) instead of
    ``dup_groups``'s arbitrary min-id representative — the policy a
    training corpus actually wants (drop the worse copy, not a random
    one). One broadcast-free equi-join on the id plus one argbest
    struct aggregate on the group key: the max(struct) combines
    map-side, so the shuffle carries one candidate per (group,
    partition), and ties on score resolve to the smallest id via the
    negated-id field — no per-group sort, no window."""
    j = groups.join(scores.select(id_col, score_col), id_col)
    best = j.groupBy("group_rep").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(
                F.col(score_col).alias("s"),
                (-F.col(id_col)).alias("nid"),
            )
        ).alias("__b"),
    )
    return best.select(
        "group_rep",
        (-F.col("__b.nid")).alias("keep_id"),
        F.col("__b.s").alias("best_score"),
        "n_members",
    )


def dup_spans(
    df: DataFrame, id_col: str = "doc_id", col: str = "text", k: int = 5
) -> DataFrame:
    """Exact duplicated-span profile (the Lee et al. 2021 substring-
    dedup signal, k-token granularity): per document, how many of its
    k-gram POSITIONS also occur in some OTHER document, and that
    fraction e4. Unlike the Jaccard/MinHash family this flags partial
    template reuse — a unique doc wrapping a copied paragraph.

    Shape: positions explode → gram popularity as min(doc) != max(doc)
    (one agg on the gram key — deliberately NOT count(distinct), the
    min/max pair combines map-side for the same answer) → re-join on
    the gram key (same shuffle key, exchange reuse) → per-doc counts.
    Fan-out is linear in token positions; there is no pair join, so a
    corpus-wide stop-gram ('the end of') costs one hot reduce key, not
    a quadratic bucket — at 100 TB the gram shuffle is the cost, and
    it is tokens x 1, same order as the corpus scan itself."""
    w = df.select(id_col, F.split(F.col(col), " ").alias("w"))
    grams_ = F.transform(
        F.sequence(F.lit(1), F.size(F.col("w")) - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + j) for j in range(k)]
        ),
    )
    grams = F.when(F.size(F.col("w")) >= k, grams_).otherwise(
        F.array().cast("array<string>")
    )
    g = w.select(id_col, F.explode(grams).alias("gram"))
    pop = g.groupBy("gram").agg(
        (F.min(id_col) != F.max(id_col)).cast("int").alias("dup")
    )
    j = g.join(pop, "gram")
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("dup").alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.expr("n_dup_spans * 10000 div n_spans").alias("dup_frac_e4"),
        )
    )


def decontaminate_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    m_bits: int = 1 << 16,
) -> DataFrame:
    """``decontaminate`` with a Bloom-filter pre-prune — the 100 TB
    shape. Two hash functions over the benchmark shingle set become two
    tiny DISTINCT position tables (≤ m_bits rows each, broadcast); a
    training shingle reaches the exact membership join only if BOTH its
    positions are set. False positives are removed by that final exact
    join, so the output is bit-identical to ``decontaminate`` (same
    oracle certifies both).

    Why bother when the benchmark set already broadcasts: at real scale
    the eval-suite shingle inventory outgrows the broadcast threshold
    and the membership join becomes a shuffle of EVERY training shingle
    — the Bloom pass (still broadcastable at any benchmark size, m_bits
    is fixed) then prunes ~all clean shingles map-side before that
    shuffle. No driver-side bitmap: the position sets stay DataFrames,
    so the plan is two broadcast semi-joins, not a collected literal."""
    bench = (
        _explode_ss(shingle_sets(benchmark, id_col, col, k))
        .select("s")
        .distinct()
    )
    h1 = F.pmod(F.xxhash64(F.col("s")), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(F.concat(F.col("s"), F.lit("#2"))), F.lit(m_bits))
    p1 = bench.select(h1.alias("h1")).distinct()
    p2 = bench.select(h2.alias("h2")).distinct()
    ex = _explode_ss(shingle_sets(_spread(train, id_col), id_col, col, k))
    pruned = (
        ex.withColumn("h1", h1)
        .join(F.broadcast(p1), "h1", "left_semi")
        .withColumn("h2", h2)
        .join(F.broadcast(p2), "h2", "left_semi")
    )
    hits = (
        pruned.join(F.broadcast(bench), "s")
        .groupBy("did")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(F.col(id_col))
        .join(hits.withColumnRenamed("did", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def dup_triangles(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    threshold_e4: int = 3000,
    max_freq: int | None = 100,
) -> DataFrame:
    """Triangle counting over the near-dup pair graph, by
    degree-ordered orientation — the dedup-cluster TRANSITIVITY
    audit: a component whose members are pairwise near-dups is
    triangle-dense (safe to collapse to one representative), while a
    triangle-free chain A~B~C can link documents with nothing in
    common, the classic false-merge mode of single-linkage dedup
    (``dup_groups``) that this measures.

    Algorithm (the scale-canonical one): orient every Jaccard pair
    from the endpoint with smaller (degree, id) to the larger; for
    each wedge b←a→c with (deg,id)(b) < (deg,id)(c), the triangle
    closes iff oriented edge b→c exists.  Orientation bounds every
    out-neighborhood by O(sqrt(m)) — the wedge self-join's skew
    ceiling — so the plan is three bounded hash joins, never an
    unoriented neighborhood explosion.  Each triangle is found
    exactly once, then credited to its three corners.

    Output, one row per endpoint of ≥1 pair: id, deg (pair-graph
    degree), n_tri (triangles through the node), cc_permille
    (2000·n_tri div deg·(deg-1), the local clustering coefficient in
    permille; 0 when deg < 2).  Global triangle count =
    sum(n_tri)/3.
    """
    # settle the verified pair list once — the degree count, the
    # orientation join, and both directions of the undirected view
    # would otherwise each re-run the shingle/verify pipeline
    pairs = (
        ngram_jaccard_pairs(
            df, id_col, col, k, threshold_e4=threshold_e4, max_freq=max_freq
        )
        .select("i", "j")
        .localCheckpoint()
    )
    und = pairs.unionByName(pairs.select(F.col("j").alias("i"), F.col("i").alias("j")))
    deg = und.groupBy("i").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed("i", "v")
    # orient by (deg, id): src = smaller endpoint in that total order
    pd_ = (
        pairs.join(deg.select(F.col("v").alias("i"), F.col("deg").alias("di")), "i")
        .join(deg.select(F.col("v").alias("j"), F.col("deg").alias("dj")), "j")
    )
    fwd = (F.col("di") < F.col("dj")) | (
        (F.col("di") == F.col("dj")) & (F.col("i") < F.col("j"))
    )
    oriented = pd_.select(
        F.when(fwd, F.col("i")).otherwise(F.col("j")).alias("src"),
        F.when(fwd, F.col("j")).otherwise(F.col("i")).alias("dst"),
        F.when(fwd, F.col("dj")).otherwise(F.col("di")).alias("ddst"),
    )
    # settle the oriented edge list once: the wedge join uses it twice
    # and the closing join a third time
    oriented = oriented.localCheckpoint()
    e1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddst").alias("db")
    )
    e2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddst").alias("dc")
    )
    wedges = e1.join(e2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("v"))
        .unionByName(tris.select(F.col("b").alias("v")))
        .unionByName(tris.select(F.col("c").alias("v")))
    )
    ntri = corners.groupBy("v").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.join(ntri, "v", "left")
        .select(
            F.col("v").alias(id_col),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.expr("2000 * coalesce(n_tri, 0) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("cc_permille"),
        )
    )


def dup_wedge_gaps(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 3,
    threshold_e4: int = 3000,
    max_freq: int | None = 100,
    min_common: int = 2,
    max_center_deg: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """False-merge BRIDGE audit of the near-dup graph — the complement
    of ``dup_triangles``: pairs of documents that share ≥ min_common
    near-dup neighbors (a closed wedge through each) but are NOT
    themselves a near-dup pair, with their true capped-shingle Jaccard
    recomputed as evidence. Exactly these sub-threshold wedge pairs are
    what single-linkage ``dup_groups`` glues into one component — the
    operator quantifies every glue point, worst offenders = high cn +
    low jacc_e4.

    (With an EXACT candidate generator like ``ngram_jaccard_pairs``
    every true ≥-threshold pair is already an edge, so all wedge pairs
    here are genuinely sub-threshold; under a banded/minhash generator
    the same operator doubles as candidate-recall repair — wedge pairs
    with jacc_e4 ≥ threshold are banding misses to re-add.)

    Unlike triangle counting, open wedges CANNOT be enumerated from a
    degree-ordered orientation (a wedge whose center out-ranks both
    endpoints — precisely the hub-bridge shape this audit hunts — has
    no all-outward rotation), so the enumeration is the undirected
    neighbor-pair self-join per center. That is quadratic in center
    degree BY DEFINITION of the audit; at scale, pass
    ``max_center_deg`` to exclude super-hub centers (a document that
    is a near-dup of thousands of others is boilerplate — the same
    stop-key semantic as ``max_freq``), which bounds every center's
    wedge fan-out. Verification joins the capped exploded-shingle
    table to the candidate list (cost = candidates × shingles/doc,
    never corpus²). Output: i, j (i<j), cn (shared near-dup
    neighbors), jacc_e4 (floor-scaled capped-shingle Jaccard, 0 when
    no capped shingle is shared)."""
    ex_all = _explode_ss(
        shingle_sets(_spread(df, id_col), id_col, col, k)
    ).localCheckpoint()
    sizes = ex_all.groupBy("did").agg(F.count(F.lit(1)).alias("nsh"))
    if max_freq is not None:
        freq = ex_all.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
        ex = ex_all.join(freq.where(F.col("f") <= max_freq), "s").select(
            "did", "s"
        )
    else:
        ex = ex_all
    si = sizes.select(F.col("did").alias("i"), F.col("nsh").alias("ni"))
    sj = sizes.select(F.col("did").alias("j"), F.col("nsh").alias("nj"))
    if pairs is None:
        # verified pair list — the SAME edge definition the generator
        # uses, built on the settled shingle table shared with the
        # verification stage
        pairs = (
            _jaccard_edges(ex, sizes)
            .where(F.col("jac_e4") >= threshold_e4)
            .select("i", "j")
            .localCheckpoint()
        )
    else:
        # injected edge list — the recall-repair mode: feed the pairs a
        # BANDED generator emitted and the wedge audit surfaces
        # candidate pairs it may have missed (jacc_e4 then separates
        # banding misses from genuine bridges). Normalized defensively
        # rather than trusting the caller's i<j contract: a reversed
        # (j,i) edge or a duplicate row would double-count cn and
        # defeat the left_anti exclusion below, reporting a genuine
        # edge as a bridge.
        pairs = (
            pairs.select(
                F.least("i", "j").alias("i"),
                F.greatest("i", "j").alias("j"),
            )
            .where(F.col("i") < F.col("j"))
            .distinct()
            .localCheckpoint()
        )
    und = pairs.select(
        F.col("i").alias("ctr"), F.col("j").alias("nb")
    ).unionByName(pairs.select(F.col("j").alias("ctr"), F.col("i").alias("nb")))
    if max_center_deg is not None:
        deg = und.groupBy("ctr").agg(F.count(F.lit(1)).alias("deg"))
        und = und.join(
            deg.where(F.col("deg") <= max_center_deg).select("ctr"), "ctr"
        )
    e1 = und.select("ctr", F.col("nb").alias("i"))
    e2 = und.select("ctr", F.col("nb").alias("j"))
    wedges = e1.join(e2, "ctr").where(F.col("i") < F.col("j"))
    cand = (
        wedges.groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(pairs, ["i", "j"], "left_anti")
        .where(F.col("cn") >= min_common)
    )
    exi = ex.select(F.col("did").alias("i"), "s")
    exj = ex.select(F.col("did").alias("j"), "s")
    ver = (
        cand.select("i", "j")
        .join(exi, "i")
        .join(exj, ["j", "s"])
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        # LEFT joins to the size table: in injected-pairs mode an
        # external generator can emit an edge touching a doc with no
        # shingles (< k tokens) — its wedge candidates must still
        # surface (jacc_e4 = 0), not vanish in an inner join. In the
        # default mode every edge endpoint has shingles by
        # construction, so this is plan-identical for the oracle.
        cand.join(si, "i", "left")
        .join(sj, "j", "left")
        .join(ver, ["i", "j"], "left")
        .select(
            "i",
            "j",
            "cn",
            F.coalesce(
                _jac_e4(F.col("inter"), F.col("ni"), F.col("nj")),
                F.lit(0).cast("long"),
            ).alias("jacc_e4"),
        )
    )
