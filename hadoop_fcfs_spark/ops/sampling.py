"""Deterministic sampling operators.

Parity targets: ``InputSampler.RandomSampler`` / ``SplitSampler`` /
``IntervalSampler`` (reference
``mr-core/mapreduce/lib/partition/InputSampler.java:57``) and the
hash-mod record-sampling idiom (``SequenceFileInputFilter``'s
PercentFilter/MD5Filter, ``mr-core/mapred/SequenceFileInputFilter.java``).
The interval sampler already exists in ``io/readers.py``; these cover the
random tier — made DETERMINISTIC the MD5Filter way instead of seeded
RNG, because a training pipeline needs sampling decisions that are
reproducible across engines, re-runs, and partitionings:

    keep(row)  ⇔  uniform64(md5(id)) < fraction · 2^32

where uniform64 is the first 8 hex digits of the md5 of the row's id.
Per-row expressions, shuffle-free for the fraction samplers; the
fixed-n-per-group sampler is one bounded window. md5 (not xxhash64) so
any engine can replay the exact sample — the property the correctness
oracles and any cross-engine train/eval handoff rely on.

LLM-pipeline role: held-out split carving (`train_holdout_split`),
per-source corpus balancing (`stratified_sample`), bounded per-group
inspection samples (`per_group_sample`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_U32 = 4294967296  # 2^32: the sample key is the first 8 md5 hex digits


def _sample_key(id_col: str | Column) -> Column:
    """Uniform-in-[0, 2^32) deterministic key from a row id."""
    c = id_col if isinstance(id_col, Column) else F.col(id_col)
    return F.conv(F.substring(F.md5(c.cast("string").cast("binary")), 1, 8), 16, 10).cast("long")


def hash_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by id hash. Pure
    per-row expression — no shuffle, no RNG state, stable under
    repartitioning (RandomSampler parity with MD5Filter determinism)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_sample_key(id_col) < int(fraction * _U32))


def stratified_sample(
    df: DataFrame, stratum_col: str, id_col: str, fractions: dict, default: float = 0.0
) -> DataFrame:
    """Per-stratum deterministic sampling (``DataFrame.sampleBy`` parity
    without RNG): each stratum keeps its own fraction of rows. Strata
    absent from ``fractions`` keep ``default``."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0, 1], got {v}")
    thr = F.lit(int(default * _U32))
    for k, v in fractions.items():
        thr = F.when(F.col(stratum_col) == k, F.lit(int(v * _U32))).otherwise(thr)
    return df.filter(_sample_key(id_col) < thr)


def per_group_sample(
    df: DataFrame, group_col: str, id_col: str, n: int
) -> DataFrame:
    """Fixed-size deterministic sample per group: the ``n`` rows with the
    smallest sample keys (md5 order ≈ uniform, id tiebreak). One bounded
    window — the rank<=n filter compiles to WindowGroupLimit on Spark 4,
    so per-group state is O(n), the distributed reservoir shape."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy(group_col).orderBy(_sample_key(id_col), F.col(id_col))
    return df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= n).drop("__rk")


def train_holdout_split(
    df: DataFrame, id_col: str, holdout_fraction: float, split_col: str = "split"
) -> DataFrame:
    """Tag every row 'train' or 'holdout' deterministically by id hash —
    the leakage-safe corpus split: membership depends only on the id, so
    re-runs, incremental arrivals, and other engines agree on the
    assignment."""
    if not 0.0 <= holdout_fraction <= 1.0:
        raise ValueError(f"holdout_fraction must be in [0, 1], got {holdout_fraction}")
    return df.withColumn(
        split_col,
        F.when(
            _sample_key(id_col) < int(holdout_fraction * _U32), F.lit("holdout")
        ).otherwise(F.lit("train")),
    )


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    stratum_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row gets key = u^(1/w) with u = deterministic
    uniform from the id hash; the k largest keys are the sample, and
    inclusion probability is proportional to weight — the
    PPS-without-replacement sampler (vs duplicate-prone with-replacement
    draws). With ``stratum_col``, k per stratum.

    u = (uniform32(md5(id)) + 1) / 2^32  — strictly in (0, 1], so the
    key is finite and ties break by id. The key is computed in LOG form,
    ln(u)/w, a monotone transform of u^(1/w) (ln u <= 0, w > 0), so the
    only transcendental is ln() — the one libm call already observed
    bit-identical across JVM and DuckDB (tf_idf note); pow() would add a
    second, riskier one. Pure per-row expressions + one bounded top-k
    (TakeOrderedAndProject global, or a WindowGroupLimit-bounded
    per-stratum window) — no RNG state, engine-replayable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col).cast("double")
    u = (_sample_key(id_col) + F.lit(1.0)) / F.lit(float(_U32))
    key = F.log(u) / w
    tagged = df.withColumn("__akey", key).filter(w > 0)
    if stratum_col is None:
        return tagged.orderBy(F.desc("__akey"), F.col(id_col)).limit(k).drop("__akey")
    win = Window.partitionBy(stratum_col).orderBy(F.desc("__akey"), F.col(id_col))
    return (
        tagged.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .drop("__akey", "__rn")
    )


def duplicate_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    holdout_fraction: float,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe split where EXACT DUPLICATES cannot straddle the
    carve: the split key is the content digest (md5 of the normalized
    text), not the row id, so every copy of a duplicated document lands
    on the same side. Splitting by row id alone silently leaks training
    text into the eval set whenever the corpus contains duplicates —
    which every web-scale corpus does; this is the id-hash split's
    content-aware upgrade (id determinism is preserved for distinct
    texts since the digest is a pure function of content).

    Pure per-row expressions — no shuffle, no dedup pass required. For
    NEAR-duplicate safety, first map rows to a cluster representative
    (llm.dedup.near_dedup_clusters) and split on that id instead.
    """
    if not 0.0 <= holdout_fraction <= 1.0:
        raise ValueError(f"holdout_fraction must be in [0, 1], got {holdout_fraction}")
    digest = F.md5(F.lower(F.trim(F.col(text_col))).cast("binary"))
    return df.withColumn(
        split_col,
        F.when(
            _sample_key(digest) < int(holdout_fraction * _U32), F.lit("holdout")
        ).otherwise(F.lit("train")),
    )


def token_budget_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    text_col: str,
    budgets: dict,
    default_budget: int | None = None,
) -> DataFrame:
    """Corpus mixing under per-source TOKEN budgets: each source keeps a
    deterministic hash-sample of its documents sized so the expected
    kept token mass ≈ its budget (sources under budget keep everything).

    Two passes: (1) one aggregation for per-source token totals (a
    handful of rows — broadcast back), (2) a per-row threshold filter
    keep ⇔ uniform32(md5(id)) < floor(budget·2^32 / total_tokens).
    All threshold arithmetic is double→floor, replayable bit-for-bit by
    any engine; membership depends only on the id, so re-runs and
    incremental extensions agree (the property training-data mixes
    need — "The Pile"/LLaMA-style source weighting).

    Rows sample uniformly, so long documents are not preferentially
    kept; the budget is hit in expectation over docs, not exactly —
    length-weighted (importance) sampling is a different keep-key,
    deliberately not conflated here.
    """
    for k, v in budgets.items():
        if v < 0:
            raise ValueError(f"budget for source {k!r} must be >= 0, got {v}")
    ntok = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")))
    totals = (
        df.withColumn("__ntok", ntok)
        .groupBy(source_col)
        .agg(F.sum("__ntok").alias("__total"))
    )
    budget = F.lit(default_budget)
    for k, v in budgets.items():
        budget = F.when(F.col(source_col) == k, F.lit(v)).otherwise(budget)
    thr = F.when(
        budget.isNull() | (budget >= F.col("__total")), F.lit(_U32)
    ).otherwise(F.floor(budget.cast("double") * _U32 / F.col("__total")))
    return (
        df.join(F.broadcast(totals), source_col)
        .filter(_sample_key(id_col) < thr)
        .drop("__total")
    )


def token_budget_mix_weighted(
    df: DataFrame,
    source_col: str,
    id_col: str,
    text_col: str,
    budgets: dict,
    default_budget: int | None = None,
) -> DataFrame:
    """Length-weighted (importance / PPS) variant of ``token_budget_mix``:
    a document's keep probability is proportional to its TOKEN MASS,
    p_i = budget·ntok_i / Σ_j ntok_j², so the expected kept token mass is
    exactly the budget AND long documents — which carry the mass — are
    preferentially retained. This is the keep-key a real mixing pipeline
    wants when the budget is measured in tokens: uniform doc sampling
    hits the budget only in expectation over docs and wastes keep slots
    on snippets (probability-proportional-to-size sampling from the
    survey-sampling literature, applied to corpus mixing).

    keep(row) ⇔ uniform32(md5(id)) < floor(budget·ntok·2^32 / Σ ntok²)

    The threshold is per-ROW (scaled by ntok) but still a pure expression
    over one broadcast per-source aggregate (Σ ntok, Σ ntok²) — same
    two-pass shape and engine-replayability as the uniform variant.
    Documents with p_i ≥ 1 (threshold ≥ 2^32) are always kept — the
    certainty-inclusion rule, automatic because the sample key is
    < 2^32. Sources whose budget covers their whole token mass keep
    everything.
    """
    for k, v in budgets.items():
        if v < 0:
            raise ValueError(f"budget for source {k!r} must be >= 0, got {v}")
    ntok = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")))
    totals = (
        df.withColumn("__ntok", ntok)
        .groupBy(source_col)
        .agg(
            F.sum("__ntok").alias("__total"),
            F.sum(F.col("__ntok") * F.col("__ntok")).alias("__tot2"),
        )
    )
    budget = F.lit(default_budget)
    for k, v in budgets.items():
        budget = F.when(F.col(source_col) == k, F.lit(v)).otherwise(budget)
    # multiplication order matters for bit-identical float64 replay: keep
    # budget * ntok * 2^32 / tot2 left-to-right in every engine's oracle
    thr = F.when(budget.isNull() | (budget >= F.col("__total")), F.lit(_U32)).otherwise(
        F.floor(
            budget.cast("double") * F.col("__ntok") * F.lit(float(_U32)) / F.col("__tot2")
        )
    )
    return (
        df.withColumn("__ntok", ntok)
        .join(F.broadcast(totals), source_col)
        .filter(_sample_key(id_col) < thr)
        .drop("__ntok", "__total", "__tot2")
    )


def negative_pairs(
    df: DataFrame, id_col: str, k: int = 3, n_buckets: int = 64
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor row, ``k`` pseudo-random partners drawn WITHOUT any
    RNG state — the partner for offset j is the representative
    (min id) of hash bucket ``(bucket(anchor)+j) mod n_buckets``.

    Properties the training pipeline needs, by construction:
    engine-replayable (same md5 sample key as the whole sampling tier,
    so the pair set is reproducible across runs/engines/partitionings),
    spread (anchors in different buckets draw different partners),
    self-free (a representative equal to the anchor is dropped, so that
    anchor yields k-1 pairs — callers wanting exactly k can raise
    n_buckets). Cost: one n_buckets-row aggregate + a broadcast join
    onto an exploded offset range — no shuffle of the corpus, no
    self-join.
    """
    if k < 1 or n_buckets < 2:
        raise ValueError(f"need k >= 1, n_buckets >= 2; got {k}/{n_buckets}")
    bucketed = df.select(
        F.col(id_col).alias("anchor_id"),
        F.pmod(_sample_key(id_col), F.lit(n_buckets)).alias("__b"),
    )
    reps = bucketed.groupBy("__b").agg(F.min("anchor_id").alias("negative_id"))
    reps = reps.select(F.col("__b").alias("__rb"), "negative_id")
    fanned = bucketed.select(
        "anchor_id",
        "__b",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
    ).withColumn("__rb", F.pmod(F.col("__b") + F.col("j"), F.lit(n_buckets)))
    return (
        fanned.join(F.broadcast(reps), "__rb")
        .filter(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", "j", "negative_id")
    )


def weighted_draws(
    weights: DataFrame,
    key_col: str,
    weight_col: str,
    n_draws: int,
    chunk_of,
) -> DataFrame:
    """Deterministic weighted categorical sampling WITH replacement —
    the word2vec negative-table / importance-mixture draw, as relational
    algebra: build the integer cumulative-weight ranges [lo, hi) per
    key (inverse CDF), generate ``n_draws`` md5-uniform integer targets
    in [0, Σw), and route each target to its key with the bucketized
    interval equi-join. Zero RNG state: draw i always lands on the same
    key for the same weight table, in any engine.

    ``weights`` must carry positive INTEGER weights (quantize upstream
    — float weights would make the cumulative ranges engine-dependent)
    with Σw < 2^31 per table (the u·Σw product must fit 63 bits);
    ``chunk_of`` maps the key to a monotone chunk for the distributed
    prefix sum (chunked_running_sum — the cumulative never runs through
    one window task). Output: one row per draw (draw_id, key_col)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.joins import bucketized_interval_join
    from hadoop_fcfs_spark.ops.sort import chunked_running_sum

    w = weights.select(
        F.col(key_col), F.col(weight_col).cast("long").alias("__w")
    )
    cum = waypoint(
        chunked_running_sum(
            w, [], chunk_of(F.col(key_col)), [key_col], "__w", out_col="__hi"
        ).withColumn("__lo", F.col("__hi") - F.col("__w"))
    )
    total = cum.agg(F.max("__hi").alias("__tot"))
    draws = (
        weights.sparkSession.range(n_draws)
        .select(
            F.col("id").alias("draw_id"),
            _sample_key(F.col("id")).alias("__u"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "draw_id",
            F.expr(f"__u * __tot div {_U32}").alias("__target"),
        )
    )
    width = max(1, 1 << 10)
    routed = bucketized_interval_join(
        draws, cum, "__target", lo_col="__lo", hi_col="__hi", bucket_width=width
    )
    return routed.select("draw_id", key_col)


def temperature_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    budget_num: int,
    budget_den: int,
) -> DataFrame:
    """Temperature-weighted group mixing with exponent α = 0.5 — the
    multilingual-pretraining rebalance (mBERT/XLM exponent-smoothed
    sampling): group g with n_g rows gets sampling mass w_g ∝ n_g^α, so
    low-resource groups are UP-sampled relative to their share. Per-row
    keep probability p_g = min(1, B·w_g/(Σw)·(1/n_g)) with expected
    total budget B = (budget_num/budget_den)·N rows; a row survives iff
    its md5-uniform32 id key < floor(p_g·2³²) — fully deterministic,
    zero RNG state, engine-replayable.

    α is FIXED at 0.5 so the weight is sqrt(n) — IEEE sqrt is correctly
    rounded and bit-identical across engines, where a general pow(n, α)
    is not guaranteed to be (the cross-engine value-hash would sit one
    ulp from a threshold boundary). The NORMALIZER Σ√n is the one place
    a float SUM would sneak order-dependence back in (non-associative
    addition summed in engine-specific order), so each √n is floor-
    quantized to 2⁻²⁰ units and the sum runs in EXACT integers — both
    engines see the identical denominator. One tiny group-count
    aggregate, coalesced to ONE partition (SCALING.md, "Group-grain
    tables ride one partition") so its whole-frame totals window needs
    no SinglePartition exchange, broadcast back; then a pure per-row
    filter — no shuffle of the data rows at all."""
    if budget_num <= 0 or budget_den <= 0:
        raise ValueError("budget fraction must be positive")
    q20 = 1_048_576  # 2^20
    # Normalizer totals ride a whole-frame window over the GROUP-grain
    # count table (≤ #groups rows by construction — bounded summary
    # grain): the previous agg→broadcast→crossJoin shape evaluated the
    # group-count aggregation twice (once building the totals broadcast,
    # once for the probability side). Integer sums — identical values.
    # The coalesce(1) right after the aggregate (partial counts run
    # before the exchange, so its one task reads at most
    # shuffle-partitions x #groups rows) already satisfies the window's
    # whole-frame requirement: no SinglePartition exchange.
    # CONTRACT (r16 ADVICE #3, the ks_group_drift convention): group_col
    # is a small-cardinality mixing dimension (language, source, shard)
    # — the unpartitioned window funnels the #groups-row count table
    # through one task, which is the right trade at that grain; a
    # data-grain group column would need the agg+broadcast shape back.
    c = df.groupBy(F.col(group_col)).agg(F.count("*").alias("__n")).coalesce(1)
    from pyspark.sql import Window

    wall = Window.partitionBy()
    nt = F.sum("__n").over(wall)
    sq = F.sum(F.floor(F.sqrt(F.col("__n").cast("double")) * q20).cast("long")).over(wall)
    p = c.select(
        group_col,
        "__n",
        F.least(
            F.lit(1.0),
            (nt * budget_num).cast("double") / budget_den
            * F.sqrt(F.col("__n").cast("double")) * q20
            / sq
            / F.col("__n").cast("double"),
        ).alias("__p"),
    )
    thresh = F.floor(F.col("__p") * F.lit(4294967296.0)).cast("long")
    return (
        df.join(F.broadcast(p), group_col)
        .filter(_sample_key(id_col) < thresh)
        .drop("__n", "__p")
    )


# Poisson(1) CDF thresholds on the uniform32 scale: t[k] = floor(2^32 ·
# P(X <= k)). Precomputed CONSTANTS (the only transcendental, e^-1, is
# folded at authoring time), so both engines compare the md5-uniform key
# against identical integer literals — no runtime exp() anywhere. Weight
# caps at 8 (P(X > 7) ≈ 1.0e-5, identical truncation both sides).
POISSON1_T32 = (
    1580030168, 3160060337, 3950075421, 4213413783,
    4279248373, 4292415291, 4294609777, 4294923276,
)


def poisson_bootstrap_mean(
    df: DataFrame,
    key_col: str,
    value_col: str,
    replicates: int = 100,
    scale: int = 100,
    lo_rank: int = 3,
    hi_rank: int = 3,
) -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean of ``value_col``:
    each (row, replicate) pair draws a Poisson(1) resample weight from
    the md5-uniform32 of "key:replicate" against the precomputed
    POISSON1_T32 thresholds — the single-pass, RNG-state-free bootstrap
    (Poisson bootstrap ≈ multinomial resampling for large n; the
    engine-replayable md5 tier's answer to "how uncertain is this
    mean", Chamandy et al.'s formulation for exactly this
    embarrassingly-parallel setting).

    Scale shape: the replicate ids explode ONCE per row (×R map-side
    compute, the honest price of bootstrap — choose R accordingly);
    per-replicate Σw·v and Σw accumulate as exact BIGINTs over
    ``scale``-quantized values with map-side combine, so the shuffle
    carries R×partitions summary rows only. Replicate means are one
    correctly-rounded division each; the CI bounds are the lo_rank-th
    smallest / hi_rank-th largest replicate means via two
    TakeOrdered-bounded selections (never a global window). With
    R=100, lo_rank=hi_rank=3 brackets ≈95% coverage. Output: 1 row
    (n_rows, mean_e4, boot_lo_e4, boot_hi_e4)."""
    from hadoop_fcfs_spark.caching import waypoint

    q = F.floor(F.col(value_col) * scale).cast("long")
    # the module's one engine-parity-critical hash recipe, not a copy
    u = _sample_key(
        F.concat(
            F.col(key_col).cast("string"),
            F.lit(":"),
            F.col("__r").cast("string"),
        )
    )
    w = F.lit(8)
    for k in range(len(POISSON1_T32) - 1, -1, -1):
        w = F.when(F.col("__u") < POISSON1_T32[k], k).otherwise(w)
    # the explode multiplies per-row COMPUTE by R (md5 per replicate):
    # spread the input rows across the cluster FIRST, or the whole ×R
    # cost lands on however few partitions the scan produced
    parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    rep = (
        df.select(F.col(key_col), q.alias("__q"))
        .repartition(parts)
        .withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(int(replicates) - 1)))
        )
        .withColumn("__u", u)
        .withColumn("__w", w.cast("long"))
        .groupBy("__r")
        .agg(
            F.sum(F.col("__w") * F.col("__q")).alias("__swq"),
            F.sum("__w").alias("__sw"),
        )
        .filter(F.col("__sw") > 0)
        .select(
            F.floor(
                F.col("__swq").cast("double") / F.col("__sw").cast("double")
                / scale * 10_000.0
            ).cast("long").alias("__m4")
        )
    )
    rep = waypoint(rep)
    lo = rep.orderBy(F.asc("__m4")).limit(lo_rank).agg(
        F.max("__m4").alias("boot_lo_e4")
    )
    hi = rep.orderBy(F.desc("__m4")).limit(hi_rank).agg(
        F.min("__m4").alias("boot_hi_e4")
    )
    overall = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.floor(
            F.sum(q).cast("double") / F.count("*").cast("double")
            / scale * 10_000.0
        ).cast("long").alias("mean_e4"),
    )
    return overall.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))


def shard_assignment(
    df: DataFrame, id_col: str, n_shards: int
) -> DataFrame:
    """Deterministic globally-shuffled training-shard assignment:
    shard = floor(uniform32(md5(id)) · n_shards / 2³²) — the export
    "last mile" of a training-data pipeline (reference parity: the
    TotalOrderPartitioner/hash-Partitioner job that fanned a corpus
    into reducer output files; here the md5 tier makes the shuffle
    REPLAYABLE — rebuilding any one shard never touches the others).

    Hashing the id (not taking rows in storage order) is the point:
    source/time locality in the input layout decorrelates, so every
    shard is an i.i.d. sample of the corpus and per-shard statistics
    concentrate (n_docs CV ≈ 1/√(N/S)). Pure per-row expression — no
    shuffle, no RNG state, stable under repartitioning; the integer
    product (u32 < 2³² times n_shards) stays well inside BIGINT for
    any practical shard count (< 2³¹). Writers partitionBy the shard
    column; ``training_shard_manifest`` is the accounting twin."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    # u32·n is positive, so shiftright-32 IS floor(u32·n/2³²) — exact
    # integer arithmetic, never a double division
    return df.withColumn(
        "shard", F.shiftright(_sample_key(id_col) * n_shards, 32).cast("long")
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: Column | str,
    id_col: str,
    budget: int,
) -> DataFrame:
    """Neyman-allocation stratified sampling: split a sampling budget
    across strata proportionally to N_h·σ_h — the variance-OPTIMAL
    design for estimating the population mean (proportional allocation
    wastes budget on homogeneous strata; equal allocation on small
    ones). This is the DESIGN step `stratified_sample` does not do:
    there the caller supplies fractions, here they come from the data.

    ``value_col`` must already be an integer-quantized measure (e.g.
    floor(price) dollars): per-stratum (n, S1, S2) stay exact BIGINTs,
    and N_h·σ_h = sqrt(n·S2 − S1²) is computed as a DOUBLE from those
    exact integers (multiplies and sqrt are correctly rounded — the
    same double on any engine) then FLOOR-quantized, so the allocation
    weights sum exactly and n_h = budget·w_h div Σw is one integer
    division. Selection reuses the md5-uniform32 tier: stratum h keeps
    ids with u32 < floor(n_h·2³²/N_h) — deterministic, replayable, no
    RNG state; thresholds ≥ 2³² (allocation above a stratum's size)
    keep the whole stratum.

    Integer bound (ANSI throws rather than corrupting): Σ v² per
    stratum < 2⁶³ — quantize coarser when N_h·max(v)² approaches 9.2e18
    (the welch_ttest discipline). Scale shape: ONE map-side-combined
    pass for the moments (#strata rows out), the design arithmetic on
    those rows, thresholds broadcast back, selection a pure per-row
    expression. Returns per-stratum (stratum, n, weight_q, allocated,
    n_selected).

    Reference parity: InputSampler's per-split frequency design
    (mapreduce/lib/partition/InputSampler.java) picked splits by size
    alone; Neyman is the variance-aware version of the same budget
    split."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    m = (
        df.filter(v.isNotNull())
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(v.cast("long")).alias("__s1"),
            F.sum(v.cast("long") * v.cast("long")).alias("__s2"),
        )
    )
    w = m.select(
        "stratum", "n",
        F.floor(
            F.sqrt(
                F.col("n").cast("double") * F.col("__s2").cast("double")
                - F.col("__s1").cast("double") * F.col("__s1").cast("double")
            )
        ).cast("long").alias("weight_q"),
    )
    tot = w.agg(F.sum("weight_q").alias("__tw"))
    alloc = w.crossJoin(F.broadcast(tot)).selectExpr(
        "stratum", "n", "weight_q",
        "CASE WHEN __tw > 0 THEN "
        f"CAST(({int(budget)} * weight_q) div __tw AS BIGINT) "
        "ELSE 0 END AS allocated",
    )
    keyed = df.select(
        F.col(stratum_col).alias("stratum"),
        _sample_key(id_col).alias("__u32"),
    )
    sel = (
        keyed.join(F.broadcast(alloc), "stratum")
        .filter(F.expr("__u32 < (allocated * 4294967296) div n"))
        .groupBy("stratum")
        .agg(F.count("*").cast("long").alias("__nsel"))
    )
    return alloc.join(sel, "stratum", "left").select(
        "stratum", "n", "weight_q", "allocated",
        F.coalesce(F.col("__nsel"), F.lit(0)).cast("long").alias("n_selected"),
    )


def pps_effective_sample_size(
    df: DataFrame, group_col: str, weight_col: str, scale: int = 100
) -> DataFrame:
    """Kish effective sample size of a probability-proportional-to-size
    design per group: ESS = (Σw)²/Σw² — the design-QA scalar for any
    weighted draw (pps_sample, temperature_mix, DSIR selection): how
    many EQUAL-weight samples the weighted design is actually worth.
    ESS/n near 1 means weights are flat (PPS is buying nothing); a tiny
    ratio means a few heavy units dominate and the design's variance
    is that of far fewer draws.

    Weights quantize to 1/``scale`` units and each group carries exact
    (n, Σw, Σw²) through ONE map-side-combined aggregation (the welch
    moment discipline). Σw² accumulates as DECIMAL(38,0): cent-squared
    terms reach ~3e15 per row, so a 3k-row group already sits at
    ~1e19 — past 2⁶³ — and ANSI mode correctly THREW at sf0.1 until
    this took the kruskal/lin_ccc HUGEINT-parity route (DuckDB's
    SUM(BIGINT) auto-promotes to HUGEINT, so the oracle never
    overflowed — found by the full-registry sf0.1 scale pass, r8).
    The ESS itself is flat per-group scalar double arithmetic,
    rounded to 6. Non-positive weights are excluded (they are not a
    sampling design).

    Output: (group, n, ess_r6, ess_ratio_r6)."""
    dec = "decimal(38,0)"
    q = F.round(F.col(weight_col) * scale).cast("long")
    agg = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .groupBy(F.col(group_col).alias(group_col))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(q.cast(dec)).cast(dec).alias("__s1"),
            F.sum(q.cast(dec) * q).cast(dec).alias("__s2"),
        )
    )
    return agg.selectExpr(
        group_col, "n",
        "CASE WHEN __s2 > 0 THEN ROUND(CAST(__s1 AS DOUBLE)"
        " * CAST(__s1 AS DOUBLE) / CAST(__s2 AS DOUBLE), 6) END AS ess_r6",
        "CASE WHEN __s2 > 0 AND n > 0 THEN ROUND(CAST(__s1 AS DOUBLE)"
        " * CAST(__s1 AS DOUBLE) / CAST(__s2 AS DOUBLE) / n, 6)"
        " END AS ess_ratio_r6",
    )


def rake_weights(
    df: DataFrame, row_col: str, col_col: str, rounds: int = 2
) -> DataFrame:
    """Raking / iterative proportional fitting (Deming–Stephan 1940):
    per-row weights that pull a table's TWO marginal distributions to
    uniform targets simultaneously — the survey-calibration /
    training-mix balancer (make the corpus behave as if every source
    AND every language contributed equally, without dropping rows the
    way quota sampling would). Each round rescales cell weights to
    match the row margin, then the column margin; the alternation
    converges geometrically for strictly positive cells.

    Exactness: weights are integer micro units updated by TRUNCATING
    division — w' = (w · T_d) div W_d with T_d = (N·1e6) div n_d the
    uniform target mass and W_d the current weighted margin — so both
    engines replay the identical integer trajectory (the kmeans
    truncating-update discipline); the fixed round count is part of
    the contract (IPF is sequential by nature; rounds are unrolled,
    never data-dependent). Integer bound: w·T_d < 2^63 — holds to
    ~10^6 input rows at micro scale; swap to DECIMAL(38,0) beyond.

    Scale shape: ONE data-sized map-side-combined pass to the
    (row, col) cell grain; every pass after it is margin-sized
    (groupBy + broadcast join over CELL rows — margins are vocabulary-
    bounded, never data-bounded). Output: (row_col, col_col, n,
    w_micro) — rescale any unit row's weight by w_micro/1e6."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    cells = (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("__r"), F.col(col_col).alias("__c"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    # global totals from the RAW df, not from cells: deriving both
    # join sides from cells trips Spark 4.1's self-join hidden-output
    # ambiguity (the Aggregate's child attributes stay name-visible)
    g = df.filter(
        F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
    ).agg(
        F.count("*").cast("long").alias("__N"),
        F.countDistinct(row_col).cast("long").alias("__KR"),
        F.countDistinct(col_col).cast("long").alias("__KC"),
    )
    cur = cells.crossJoin(F.broadcast(g)).withColumn(
        "__w", F.lit(1_000_000).cast("long")
    )
    carry = ["__r", "__c", "n", "__N", "__KR", "__KC"]
    for _ in range(rounds):
        for dim, nd in (("__r", "__KR"), ("__c", "__KC")):
            # iterative self-join state: eager localCheckpoint per pass
            # (the bradley_terry/kmeans discipline) keeps the plan
            # iteration-invariant AND reduces each pass to the plain
            # df ⋈ df.groupBy().agg() self-join Spark dedups cleanly —
            # the cell grain is margin-bounded, so this is cheap
            cur = cur.localCheckpoint(eager=True)
            marg = cur.groupBy(F.col(dim).alias("__mk")).agg(
                F.sum(F.col("n") * F.col("__w")).cast("long").alias("__WM")
            )
            cur = (
                cur.join(F.broadcast(marg), cur[dim] == marg["__mk"])
                .select(
                    *carry,
                    F.expr(
                        f"CAST((__w * ((__N * 1000000) div {nd})) div __WM"
                        " AS BIGINT)"
                    ).alias("__w"),
                )
            )
    return cur.selectExpr(
        "__r AS " + row_col, "__c AS " + col_col, "n",
        "__w AS w_micro",
    )
