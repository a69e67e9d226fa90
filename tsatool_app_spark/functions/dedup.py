"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators (BASELINE.json north star), designed for
100 TB:

- exact: hash-groupBy — one shuffle on a 16-byte hash, not on document text;
- MinHash+LSH: shingle → per-shingle hashes → per-doc min-signature →
  banded bucket keys → candidate pairs via equi-self-join on bucket key.
  Everything is built-in Column expressions (xxhash64 with per-permutation
  seeds, explode/groupBy) — no Python in the loop, so the only costs are
  one shuffle for the signature agg and one for the bucket join;
- SimHash: 3-gram hashes → per-bit vote aggregation → 56/64-bit signature;
  near-dups = signatures at small Hamming distance, found by COMBINATION
  block probing (Manku §3) with capped + audited probe buckets;
- n-gram Jaccard: exact verification of candidate pairs, row by row (each
  pair joins its two texts; array_distinct/array_intersect of their
  shingles on the joined row) — run AFTER LSH pruning, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tsatool_app_spark.functions.text import _sql_name


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct text with
    the number of copies and the id to keep (min id — deterministic).

    Grouping on md5(text) keeps the shuffle narrow (16 bytes/row instead of
    the full document); at 100 TB this is the difference between shuffling
    the corpus and shuffling a key column."""
    h = F.md5(F.col(text_col)).alias("text_hash")
    return (
        df.groupBy(h)
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingles(text_col: Column, k: int = 5) -> Column:
    """Character k-shingles as an array column, in text order: the
    ``k``-character substring at every position with ``k`` characters
    left, or ``[text]`` when the text is shorter than ``k`` (``[NULL]``
    for NULL) — the values of ``transform(sequence(1, greatest(len-k+1,
    1)), i -> substring(text, i, k))``.

    One ``regexp_extract_all`` pass: the lookahead captures the next k
    characters and ``.`` steps one code point, so a surrogate pair is one
    character, as it is to ``length`` and ``substring``.  The lambda form
    is evaluated element by element without codegen; on 100k 300-char
    texts (4 cores) ``size(array_distinct(..))`` took 5.2 s with it and
    0.9-1.4 s with the regexp."""
    return F.when(
        F.length(text_col) >= k,
        F.regexp_extract_all(text_col, F.lit(f"(?s)(?=(.{{{k}}}))."), F.lit(1)),
    ).otherwise(F.array(text_col))


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """Per-document MinHash signature: for each of ``num_hashes`` seeded hash
    permutations, the min over the document's shingle set.

    Plan shape: explode shingles → single groupBy computing all mins at once
    (ONE shuffle with map-side partial min). No shingle dedup: ``min`` is
    duplicate-insensitive, so the distinct pass other implementations do is
    a wasted shuffle of the exploded (≫ corpus-size) relation.

    Each shingle's BYTES are hashed once (xxhash64); the ``num_hashes``
    permutations are universal-hash arithmetic on that one value —
    ``(aᵢ·x + bᵢ) mod p`` with p = 2³¹−1 — instead of re-hashing the string
    per permutation (64× fewer byte-level hash evaluations; operands are
    kept < 2⁶² so ANSI-mode long arithmetic cannot overflow)."""
    import numpy as np

    p = (1 << 31) - 1  # Mersenne prime 2^31-1
    rng = np.random.default_rng(420)
    a = rng.integers(1, p, size=num_hashes)
    b = rng.integers(0, p, size=num_hashes)

    from tsatool_app_spark.model import spread_small_input

    # Hash-spread on id before the ~150× explode: reused by the groupBy
    # (same key), and a no-op whenever the scan is already parallel.
    narrow = spread_small_input(df.select(F.col(id_col), F.col(text_col)), key=id_col)
    exploded = narrow.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_k)).alias("sh")
    ).select(id_col, F.pmod(F.xxhash64("sh"), F.lit(p)).alias("x"))
    # SQL text: the whole signature is ONE expression, a struct of the
    # per-permutation mins (a, b < p fit INT literals, as F.lit gives
    # them), where Column API calls make about nine py4j round trips per
    # aggregate.  The optimizer folds the struct away.
    mins = ", ".join(
        f"'h{i}', min(pmod({int(a[i])} * x + {int(b[i])}, {p}))"
        for i in range(num_hashes)
    )
    return exploded.groupBy(id_col).agg(
        F.expr(f"named_struct({mins}) AS _sig")
    ).select(id_col, "_sig.*")


def _band_keys(sig: DataFrame, bands: int, rows_per_band: int, id_col: str) -> DataFrame:
    """(id, band, bucket) rows: each band of the signature hashed to one
    bucket key — the relation both the candidate self-join and the
    oversize-bucket audit are built on."""
    keys = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64("
        + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + "))"
        for b in range(bands)
    )
    # SQL text: one py4j round trip where the Column API calls made ~13
    # per band
    return sig.selectExpr(_sql_name(id_col), f"inline(array({keys}))")


def minhash_oversize_buckets(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Audit companion to :func:`minhash_near_dup_pairs`: the (band, bucket,
    size) rows the cap REMOVES from the candidate join. No silent caps — a
    pipeline that drops mega-buckets (near-identical clusters larger than
    ``max_bucket_size``) should surface what it dropped so the operator can
    route those clusters through exact dedup instead. Empty result ⇒ the
    cap did not fire and the candidate set is complete."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    return (
        _band_keys(sig, bands, rows_per_band, id_col)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > max_bucket_size)
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """LSH near-duplicate candidate pairs: band the signature, hash each
    band to a bucket key, self-join on (band, bucket).

    Default num_hashes=64, bands=8 (rows/band=8) puts the S-curve threshold
    at ≈ (1/8)^(1/8) ≈ 0.77 Jaccard — the usual ~0.8 near-dup bar for
    training-corpus dedup, and selective even on corpora with high baseline
    similarity (vocabulary-limited text sits at ~0.25 pairwise Jaccard and
    must not flood the candidate join). Returns (id_a, id_b,
    n_shared_bands), id_a < id_b. Verify candidates with
    :func:`ngram_jaccard_pairs`.

    ``max_bucket_size`` guards the quadratic hot-bucket edge: a cluster of d
    near-identical documents lands every copy in the same (band, bucket) and
    the self-join emits O(d²) pairs per band. Buckets larger than the cap are
    dropped from the candidate join (a window count on the same (band,
    bucket) key the join shuffles on — no extra exchange topology). Such
    mega-buckets are, in practice, exact-duplicate clusters: run
    :func:`exact_dedup_groups` first and feed one representative per group,
    which this cap enforces as a backstop rather than a substitute. Pass
    ``None`` to disable."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    band_keys = _band_keys(sig, bands, rows_per_band, id_col)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        band_keys = (
            band_keys.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    left = band_keys.alias("l")
    right = band_keys.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 56,
    shingle_k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """SimHash: per-bit majority vote over shingle hashes → one integer
    signature per document. Near-dups have small Hamming distance.

    The default width (56) matches :func:`simhash_near_dup_pairs` — pairing
    the two at defaults must put real entropy in every probe block.  A
    narrower signature fed to the pairer with a wider claimed ``bits``
    leaves the high blocks all-zero: those probe combos degenerate into one
    giant bucket that the ``max_bucket_size`` cap silently removes, losing
    true pairs.  Keep the widths equal on both sides.

    Vote computation is ``bits`` conditional sums in ONE groupBy (map-side
    partial agg) — no per-bit passes.

    ``portable=True`` swaps xxhash64 for an md5-derived 56-bit hash that
    every engine computes identically (bits must be <= 56) — slower
    (md5 + hex parse vs one xxhash64 intrinsic) but cross-engine
    reproducible, which is what makes a driver-visible oracle possible."""
    if portable and bits > 56:
        raise ValueError("portable simhash supports at most 56 bits")
    raw = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_k)).alias("sh")
    )
    if portable:
        h = F.conv(F.substring(F.md5(F.col("sh")), 1, 14), 16, 10).cast("long")
    else:
        h = F.xxhash64("sh")
    exploded = raw.select(F.col(id_col), h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    sig = sum(
        (
            F.when(F.col(f"b{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
            for b in range(bits)
        ),
        F.lit(0),
    )
    return voted.select(id_col, sig.cast("long").alias("simhash"))


def _resolve_band_bits(
    band_bits: int | str,
    embeddings: DataFrame,
    n_planes: int,
    n_vectors: int | None,
    id_col: str,
) -> int:
    """``band_bits="auto"`` → recommended_band_bits(n) with n from
    ``n_vectors`` if the caller knows it (free), else one cheap count of
    the id column (one job over a 1-column projection — negligible next
    to the banded join it sizes, but NOT next to a per-query top-k probe:
    query-serving callers should pass ``n_vectors``).  The count is
    memoized on the DataFrame object, so repeated queries against the
    same corpus frame pay it once."""
    if band_bits != "auto":
        return int(band_bits)
    from tsatool_app_spark.functions.similarity import recommended_band_bits

    if n_vectors is not None:
        n = n_vectors
    else:
        cache = getattr(embeddings, "_tsa_sizing_counts", None)
        if cache is None:
            cache = {}
            embeddings._tsa_sizing_counts = cache
        n = cache.get(id_col)
        if n is None:
            n = embeddings.select(id_col).count()
            cache[id_col] = n
    return recommended_band_bits(n, n_planes=n_planes)


def _rhp_band_keys(
    signed: DataFrame, n_planes: int, band_bits: int, id_col: str
) -> DataFrame:
    """(id, band, sig) relation from packed RHP signatures — the banding
    shared by the pair join and its oversize-bucket audit."""
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return signed.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("rhp_sig"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.sig")


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    band_bits: int | str = "auto",
    min_cosine: float = 0.9,
    seed: int = 42,
    max_bucket_size: int | None = 512,
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket join + exact rerank.

    Random-hyperplane signatures (similarity.rhp_signatures) are banded;
    vectors sharing ≥1 band become candidates via an equi-self-join on
    (band, band-signature); candidates are verified with exact cosine
    (vectorized pandas-UDF kernel) and filtered at ``min_cosine``.

    ``band_bits="auto"`` (default) sizes the band geometry to the corpus
    via :func:`similarity.recommended_band_bits` — the r7 sf10 rehearsal
    measured why a static width cannot be the default: at 200k vectors
    8-bit bands emit 756M candidate pairs (random collisions, quadratic in
    n/2^b) where 16-bit bands emit 6M with recall on planted near-dups
    unchanged.  ``n_vectors`` skips the sizing count when the caller
    already knows the corpus size.

    ``max_bucket_size`` guards the adversarial edge auto-sizing cannot: a
    near-constant corpus (all vectors in one orthant) lands everything in
    one (band, sig) bucket at ANY width, and the self-join emits O(d²)
    pairs.  Buckets above the cap are dropped from the candidate join —
    same window-count-on-the-join-key pattern as the MinHash/SimHash/span
    caps (no extra exchange) — and surfaced by
    :func:`embedding_oversize_buckets`; route such clusters through exact
    dedup (identical vectors) instead.  Pass ``None`` to disable.

    Cost shape: ≥93% recall at cosine 0.9 for 8 bands; the rerank, not the
    bucket join, bounds cost, and it only sees candidates. Same plan family
    as the MinHash text path: no all-pairs stage anywhere."""
    from tsatool_app_spark.functions.similarity import (
        cosine_pairs_pandas_udf,
        rhp_signatures,
    )

    band_bits = _resolve_band_bits(
        band_bits, embeddings, n_planes, n_vectors, id_col
    )
    dim = len(embeddings.select(vec_col).first()[0])
    signed = rhp_signatures(
        embeddings, dim=dim, n_planes=n_planes, seed=seed, id_col=id_col, vec_col=vec_col
    )
    # Bucket join and pair dedup carry ONLY ids — the 64-dim vectors would
    # otherwise ride through two shuffles; they are re-attached once, after
    # the candidate set is small.
    banded = _rhp_band_keys(signed, n_planes, band_bits, id_col)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "sig")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    l, r = banded.alias("l"), banded.alias("r")
    cand_ids = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = embeddings.select(id_col, vec_col)
    return (
        cand_ids.join(
            vecs.select(
                F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
            ),
            "id_b",
        )
        .withColumn("cosine", cosine_pairs_pandas_udf()(F.col("_va"), F.col("_vb")))
        .where(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def embedding_oversize_buckets(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    band_bits: int | str = "auto",
    seed: int = 42,
    max_bucket_size: int = 512,
    n_vectors: int | None = None,
) -> DataFrame:
    """Audit companion to :func:`embedding_near_dup_pairs` (the
    family-standard no-silent-caps contract — mirrors
    :func:`minhash_oversize_buckets`): the (band, sig, size) buckets the
    cap REMOVES from the candidate join.  Empty result ⇒ the cap did not
    fire and the candidate set is complete.  Oversize buckets are, in
    practice, clusters of (near-)identical vectors — route them through
    exact dedup on the vector bytes rather than widening the cap.
    Pass the same geometry arguments as the pair call so the audit sees
    the same banding."""
    from tsatool_app_spark.functions.similarity import rhp_signatures

    band_bits = _resolve_band_bits(
        band_bits, embeddings, n_planes, n_vectors, id_col
    )
    dim = len(embeddings.select(vec_col).first()[0])
    signed = rhp_signatures(
        embeddings, dim=dim, n_planes=n_planes, seed=seed, id_col=id_col, vec_col=vec_col
    )
    return (
        _rhp_band_keys(signed, n_planes, band_bits, id_col)
        .groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > max_bucket_size)
    )


def _pair_overlap_counts(
    df: DataFrame,
    candidate_pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Shared core of the exact pair-overlap family: for candidate pairs
    (id_a, id_b), the distinct-shingle intersection size and both set
    sizes — (id_a, id_b, n_inter, n_a, n_b), one row per candidate row
    whose two ids both have a text in ``df`` (absent ids drop).

    Verified row by row: each pair joins its two texts, and the shingle
    sets are built on the joined row — ``n_a = size(array_distinct(..))``
    and ``n_inter = size(array_intersect(..))``.  The shuffles carry the
    texts, never the ~k×-larger shingle relation, and no stage explodes
    or groups on a shingle.  Derived measures (Jaccard, containment) are
    one expression on the three integers.  A NULL text has one NULL
    shingle that matches nothing (n = 1, n_inter = 0), so every
    denominator downstream is ≥ 1."""
    texts = df.select(F.col(id_col), F.col(text_col))
    # Spread the pairs on id_a first (a hash join on id_a reuses it): AQE
    # coalesces a shuffle by bytes, and an id-pair relation is small while
    # its per-row shingle work is not — the 14k candidate pairs of
    # incremental_minhash_dedup at sf1 arrived in one partition, and the
    # verify took 2.4 s on one core against 0.9 s spread over four.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    joined = (
        candidate_pairs.select("id_a", "id_b")
        .repartition(n_parts, "id_a")
        .join(
            texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")),
            "id_a",
        )
        .join(
            texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")),
            "id_b",
        )
    )
    sets = joined.select(
        "id_a",
        "id_b",
        F.array_distinct(shingles(F.col("_ta"), shingle_k)).alias("_sa"),
        F.array_distinct(shingles(F.col("_tb"), shingle_k)).alias("_sb"),
    )
    return sets.select(
        "id_a",
        "id_b",
        F.size(F.array_compact(F.array_intersect("_sa", "_sb"))).alias("n_inter"),
        F.size("_sa").alias("n_a"),
        F.size("_sb").alias("n_b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (id_a, id_b):
    |A∩B| / (|A| + |B| − |A∩B|), union by inclusion-exclusion so no
    giant union materialization (plan notes: _pair_overlap_counts)."""
    counts = _pair_overlap_counts(
        df, candidate_pairs, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k,
    )
    return counts.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """ASYMMETRIC overlap for candidate pairs: containment
    |A∩B| / min(|A|, |B|) — the quote/subsumption detector.  A short
    document fully embedded in a long one scores ~1.0 here while its
    Jaccard stays low (the big doc\'s extra shingles dilute the union),
    which is exactly why dedup pipelines check both measures.  Emits the
    integer counts too, so thresholds stay engine-exact."""
    counts = _pair_overlap_counts(
        df, candidate_pairs, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k,
    )
    return counts.select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.least("n_a", "n_b").cast("long").alias("n_smaller"),
        (F.col("n_inter") / F.least("n_a", "n_b")).alias("containment"),
    )


def _dedup_groups_reps(df, text_col, id_col):
    """Exact-dedup scaffolding shared by the dedup-first compositions:
    (groups, reps) where groups = (md5(text) _h, id) and reps = one
    min-id representative row per distinct text, keyed ``_rep``.

    Both are lazily checkpointed: the callers reference groups twice
    (expansion) and reps up to three times (LSH/signing, verify, rep→hash
    map), and without the checkpoint each reference re-scans the corpus
    and re-hashes every text — 6 redundant full-corpus passes at 100 TB
    (measured at sf0.1 as ~2x on the whole dedup family)."""
    groups = df.select(
        F.md5(F.col(text_col)).alias("_h"), F.col(id_col)
    ).localCheckpoint(eager=False)
    reps = (
        groups.groupBy("_h")
        .agg(F.min(id_col).alias("_rep"))
        .join(df.select(F.col(id_col).alias("_rep"), F.col(text_col)), "_rep")
        .localCheckpoint(eager=False)
    )
    return groups, reps


def _expand_rep_pairs(groups, reps, rep_pairs, *, id_col, value_col, within_value):
    """Expand representative-level pairs ``(_rep_a, _rep_b, value_col)``
    back to document level via the md5 groups, and union the within-group
    pairs (identical text) at the known ``within_value``.  All joins — no
    collect_list, so a clone group of any size never materializes on one
    row; the within-group pair explosion is the OUTPUT, not an
    intermediate."""
    rep_of = reps.select("_h", "_rep")
    cross = (
        rep_pairs.join(
            rep_of.select(F.col("_rep").alias("_rep_a"), F.col("_h").alias("_ha")),
            "_rep_a",
        )
        .join(
            rep_of.select(F.col("_rep").alias("_rep_b"), F.col("_h").alias("_hb")),
            "_rep_b",
        )
        .join(groups.select(F.col("_h").alias("_ha"), F.col(id_col).alias("_ia")), "_ha")
        .join(groups.select(F.col("_h").alias("_hb"), F.col(id_col).alias("_ib")), "_hb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            value_col,
        )
    )
    within = (
        groups.alias("ga")
        .join(
            groups.alias("gb"),
            (F.col("ga._h") == F.col("gb._h"))
            & (F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}")),
        )
        .select(
            F.col(f"ga.{id_col}").alias("id_a"),
            F.col(f"gb.{id_col}").alias("id_b"),
            within_value.alias(value_col),
        )
    )
    return cross.unionByName(within)


def near_dup_pairs_dedup_first(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.85,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """The recommended composition of the near-dup pipeline: exact-dedup
    FIRST, MinHash-LSH + exact-Jaccard verify over one representative per
    distinct text, then expand the verified text-level pairs back to
    document-level ``(id_a, id_b, jaccard)`` — identical output to running
    :func:`minhash_near_dup_pairs` + :func:`ngram_jaccard_pairs` over the
    raw corpus (pinned by test_dedup_first_pipeline_matches_raw), at a
    fraction of the cost whenever the corpus has exact-duplicate mass.

    Why this is the 100 TB shape: web-scale corpora are dominated by exact
    duplicates (the sf1 bench tier: 10 copies of every text).  Running LSH
    over raw documents makes every downstream relation — the exploded
    shingle table, the banded self-join, the verify join — carry each
    clone's full weight, and clone clusters are exactly what the
    ``max_bucket_size`` cap must then defuse.  Deduping first shrinks all
    of that by the duplication factor; within-group pairs come straight
    from the md5 groups at J = 1.0 (identical text ⇒ identical shingle
    set) and the LSH recall argument only improves (representatives only,
    no mega-buckets).  Measured at sf1 (10× clones): 65 s → ~8 s for the
    minhash_pairs board query.

    All group handling is joins on the md5 hash — no collect_list, so a
    600-clone (or 10M-clone) group never materializes on one row; the
    within-group pair explosion is the OUTPUT, not an intermediate.
    """
    groups, reps = _dedup_groups_reps(df, text_col, id_col)
    cands = minhash_near_dup_pairs(
        reps,
        text_col=text_col,
        id_col="_rep",
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
    ).select(F.col("id_a").alias("_rep_a"), F.col("id_b").alias("_rep_b"))
    verified = (
        ngram_jaccard_pairs(
            reps,
            cands.select(
                F.col("_rep_a").alias("id_a"), F.col("_rep_b").alias("id_b")
            ),
            text_col=text_col,
            id_col="_rep",
            shingle_k=shingle_k,
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select(
            F.col("id_a").alias("_rep_a"),
            F.col("id_b").alias("_rep_b"),
            "jaccard",
        )
    )
    return _expand_rep_pairs(
        groups, reps, verified,
        id_col=id_col, value_col="jaccard", within_value=F.lit(1.0),
    )


def near_dedup_loser_ids(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.85,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int | None = 512,
) -> tuple[DataFrame, int]:
    """The ids cluster-level near-dedup DROPS from ``df``, and how many —
    ``(ids, n_ids)`` with ids exactly

    ``connected_components(near_dup_pairs_dedup_first(df, ...))
    .where(node != component)``

    (pinned by test_near_dedup_loser_ids_matches_expanded): MinHash-LSH
    candidates over ``df``, exact-Jaccard verify at ``min_jaccard``, and
    connected components over the verified pairs; the losers are every
    node whose component label (the min id reachable) is not itself.
    ``n_ids`` is read off the components loop's last aggregate, so an
    ``anti_join_ids(..., n_ids=n_ids)`` next costs no count job.

    Precondition: no text has more copies in ``df`` than
    ``max_bucket_size``.  Such a clone group fills every band bucket past
    the cap, drops out of the candidate join, and all its copies survive;
    exact-dedup such corpora first.  Smaller clone groups come out right
    (they verify at J = 1.0 and join one component).  The one caller,
    ``pretraining_mix``, passes exact-dedup survivors, one doc per text
    (``clean_corpus`` keeps the min id per md5)."""
    cands = minhash_near_dup_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
    )
    verified = (
        ngram_jaccard_pairs(
            df,
            cands.select("id_a", "id_b"),
            text_col=text_col,
            id_col=id_col,
            shingle_k=shingle_k,
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b")
    )
    cc, n_losers = _connected_components_stats(verified)
    losers = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return losers, n_losers


def simhash_pairs_dedup_first(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 56,
    shingle_k: int = 3,
    portable: bool = False,
    max_hamming: int = 3,
    n_blocks: int = 6,
    max_bucket_size: int | None = 2048,
) -> DataFrame:
    """SimHash near-dup pairs with the same dedup-first composition as
    :func:`near_dup_pairs_dedup_first`: exact-dedup on md5(text), sign and
    combination-probe only one representative per distinct text, expand the
    rep-level pairs back to document-level ``(id_a, id_b, hamming)``.

    Identical output to signing the raw corpus (a SimHash signature is a
    pure function of the text, so clones share it bit-for-bit: within-group
    hamming is exactly 0 and cross-group pairs inherit the representative
    pair's distance) — pinned by test_simhash_dedup_first_matches_raw.
    Clone-heavy corpora are also where raw SimHash is most fragile: a
    d-clone cluster puts d identical rows in all 20 probe tables, and the
    ``max_bucket_size`` cap must then drop buckets (losing the cluster's
    pairs to the audit path).  Over representatives the cluster is ONE row,
    so the cap only ever fires on genuinely-diverse signature collisions.
    """
    groups, reps = _dedup_groups_reps(df, text_col, id_col)
    sigs = simhash_signatures(
        reps,
        text_col=text_col,
        id_col="_rep",
        bits=bits,
        shingle_k=shingle_k,
        portable=portable,
    )
    rep_pairs = simhash_near_dup_pairs(
        sigs,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        max_bucket_size=max_bucket_size,
        id_col="_rep",
    ).select(
        F.col("id_a").alias("_rep_a"), F.col("id_b").alias("_rep_b"), "hamming"
    )
    return _expand_rep_pairs(
        groups, reps, rep_pairs,
        id_col=id_col, value_col="hamming",
        within_value=F.lit(0).cast("long"),
    )


# Verified-pair graphs of at most this many edges are settled on the
# driver: one Arrow collect of two ids an edge (10M long pairs = 160 MB)
# and a numpy union-find whose peak is about 70 bytes an edge more.  On
# 4 local cores the driver path beat the distributed loop at every size
# measured: sf10-dedup-shaped graphs (10-cliques plus one 600-clique) of
# 2.43M edges took 4-5 s against 8.6 s, and of 9.18M edges 23 s against
# 40 s.  So the bound is the driver's memory, not a crossover; the loop
# stays the only path that fits web-scale loser sets.
DRIVER_COMPONENTS_LIMIT = 10_000_000

# Loser-id sets above this row count are NOT broadcast: at web-crawl
# near-dup rates (30-50 %) the loser set is O(corpus) — forcing a
# broadcast would collect a multi-GB id list to the driver and replicate
# it to every executor.  20M longs ≈ 160 MB serialized, comfortably
# inside executor memory yet far past the point where the hint helps.
LOSER_BROADCAST_LIMIT = 20_000_000


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph → ``(node,
    component)`` with component = the minimum node id reachable from
    ``node``. The missing piece between PAIRWISE near-dup detection
    (minhash/simhash/embedding pairs) and actual cluster-level dedup: a
    duplicate CLUSTER of d docs surfaces as up to d(d-1)/2 pairs, and
    "keep one per cluster" needs the transitive closure, not the pairs.

    Two paths, chosen by a counted bound (:func:`_connected_components_stats`
    has the job shape): a graph of at most :data:`DRIVER_COMPONENTS_LIMIT`
    edges is collected in one action and settled by a union-find on the
    driver; a larger one runs min-label propagation with root hooking
    and pointer jumping (label ← label-of-label), in the family of
    Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SoCC'14): O(log n) rounds even on path graphs with shuffled ids,
    each a few hash joins and aggregates on (node, label) int pairs, no
    text. Dedup-shaped inputs (near-identical clusters = small cliques)
    settle in the first round's convergence check; ``max_iter`` is a
    backstop.
    """
    labels, _ = _connected_components_stats(
        edges, src=src, dst=dst, max_iter=max_iter
    )
    return labels


def _min_root_labels(u, v):
    """``(nodes, roots)`` over the edges ``(u[i], v[i])`` (numpy arrays):
    every node and its component's minimum node.  A union-find run on
    all edges at once: each round hooks every root to the least root
    across its edges, then jumps pointers until every tree is flat.
    Pointers only go to smaller nodes, so each root is its tree's
    minimum, and every tree with a crossing edge merges with another,
    so a component's tree count at least halves per round."""
    import numpy as np

    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[a], root[b]
        cross = ra != rb
        if not cross.any():
            return nodes, nodes[root]
        ra, rb = ra[cross], rb[cross]
        np.minimum.at(root, np.maximum(ra, rb), np.minimum(ra, rb))
        jumped = root[root]
        while (jumped != root).any():
            root, jumped = jumped, jumped[jumped]


def _connected_components_stats(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_limit: int = DRIVER_COMPONENTS_LIMIT,
) -> tuple[DataFrame, int]:
    """:func:`connected_components` plus the loser count — ``(labels,
    n_losers)`` where ``n_losers = |{node : component != node}|``.
    Callers that anti-join the loser set next (``anti_join_ids``) pass
    it as ``n_ids`` and skip the counted broadcast gate's own job.

    Job shape.  The edge list is lazily ``localCheckpoint``-ed ONCE (its
    lineage is the whole candidate pipeline: minhash → banded join →
    exact-Jaccard verify) and ``limit(driver_limit + 1)`` of it is
    collected as Arrow — the one action of the small-graph path: the
    edge pipeline's exchanges, then ONE job in which each partition's
    first ``driver_limit + 1`` rows meet in a single-partition exchange
    (a row ``collect`` of a limit scans partitions in scaled-up rounds,
    a job each).  Within the bound
    (``driver_limit``, default :data:`DRIVER_COMPONENTS_LIMIT`; 0 sends
    every non-empty graph to the loop) a driver-side union-find over
    numpy arrays (:func:`_min_root_labels`) labels each node with its
    component's minimum id, and the labels come back
    as an Arrow-built local relation: a JVM ``LocalRelation``, so
    consumers plan it with no Python-worker task (a pickled
    ``createDataFrame`` is a Python-RDD scan).

    Above the bound the distributed loop runs over the checkpointed
    edges, whose partitions the bounded collect already computed, with
    ONE driver action per round (:func:`_distributed_labels` has the
    round); the bounded collect is then wasted work, about a second per
    million edges on 4 cores."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=False
    )
    head = e.limit(driver_limit + 1).toArrow()
    if head.num_rows <= driver_limit:
        return _driver_labels(e, head)
    return _distributed_labels(e, max_iter)


def _driver_labels(e: DataFrame, head) -> tuple[DataFrame, int]:
    """The small-graph path of :func:`_connected_components_stats`: the
    collected Arrow table of ``(u, v)`` edges labelled on the driver."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    nodes, roots = _min_root_labels(
        head.column("u").to_numpy(), head.column("v").to_numpy()
    )
    id_type = e.schema["u"].dataType
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    table = pa.table({"node": nodes, "component": roots})
    n_losers = int((nodes != roots).sum())
    return e.sparkSession.createDataFrame(table, schema=schema), n_losers


def _distributed_labels(e: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """The large-graph path of :func:`_connected_components_stats`:
    min-label propagation with root hooking and pointer jumping.  Each
    round takes every node's least label over itself and its neighbors
    (``mn``); unless no label moved, it hooks each label (a tree root)
    to the least ``mn`` over the nodes it labels, moves every node to
    its root's hook, and jumps once.  Hooking at the roots is what bounds
    the rounds by O(log n): a node-level step alone moves the minimum one
    hop per round, so a 64-node path with shuffled ids took 63 rounds and
    came back unconverged at ``max_iter``.

    ONE driver action per round: the round's ``(u, l, mn)`` frame is
    lazily ``localCheckpoint``-ed, and its ``count_if(mn < l)`` aggregate
    both MATERIALIZES it and answers convergence.  A label is always the
    id of a node in the same component and never exceeds its own node, so
    when no node sees a smaller label among its neighbors every edge
    joins equal labels, each component carries one label, and that label
    is its minimum id.  The loser count rides out of the same aggregate.
    Dedup-shaped inputs (small cliques) settle in the first round's
    check."""
    # Both directions of every edge from one projection: a union of the
    # checkpoint with its own swap can fail Spark's union constraint
    # rewrite (NoSuchElementException on the swapped attribute) when the
    # checkpointed plan carries isnotnull constraints.
    sym = e.selectExpr(
        "inline(array(named_struct('u', u, 'v', v), named_struct('u', v, 'v', u)))"
    )
    # l(u) = min(u, min neighbor) — one shuffle on int keys.
    labels = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("l"))
    for i in range(max_iter + 1):
        # mn(u) = min over own + neighbors' labels, next to l(u): one
        # union (own rows carry l, neighbor rows NULL) + one groupBy
        nbr = sym.join(
            labels.select(F.col("u").alias("v"), F.col("l").alias("c")), "v"
        ).select("u", F.lit(None).cast(labels.schema["l"].dataType).alias("l"), "c")
        stepped = (
            labels.select("u", "l", F.col("l").alias("c"))
            .unionByName(nbr)
            .groupBy("u")
            .agg(F.max("l").alias("l"), F.min("c").alias("mn"))
            .localCheckpoint(eager=False)
        )
        row = stepped.agg(
            F.count_if(F.col("mn") < F.col("l")).alias("moved"),
            F.count_if(F.col("l") < F.col("u")).alias("n"),
        ).collect()[0]
        if not row.moved or i == max_iter:
            break
        # root hooking: each label takes the least mn over the nodes it
        # labels, and every node moves there — whole trees merge, so the
        # labels in a component at least halve per round
        hook = stepped.groupBy("l").agg(F.min("mn").alias("h"))
        hooked = stepped.join(hook, "l").select(
            "u", F.least("mn", "h").alias("l")
        )
        # pointer jump: l(u) <- l(l(u))
        labels = (
            hooked.alias("a")
            .join(
                hooked.select(
                    F.col("u").alias("l"), F.col("l").alias("ll")
                ).alias("b"),
                "l",
                "left",
            )
            .select("u", F.least("l", F.coalesce("ll", "l")).alias("l"))
            .localCheckpoint(eager=False)
        )
    return (
        stepped.select(F.col("u").alias("node"), F.col("l").alias("component")),
        int(row.n or 0),
    )


def anti_join_ids(
    df: DataFrame,
    ids: DataFrame,
    id_col: str,
    *,
    broadcast_limit: int = LOSER_BROADCAST_LIMIT,
    n_ids: int | None = None,
) -> DataFrame:
    """Left-anti ``df`` against an id set whose size is DATA-DEPENDENT
    (e.g. the near-dup loser set: tiny on clean corpora, O(corpus) on web
    crawls).  Broadcast only under a counted bound — the same
    measure-then-decide pattern as ``_resolve_band_bits`` — so the hint
    never forces a multi-GB driver collect; past the bound the join
    shuffles ``id_col`` only (8-byte keys — trivial next to the shingle
    pass that produced the ids).  The count is one job over a 1-column
    projection of ``ids``, which callers pass already checkpointed
    (``connected_components`` labels), so it is a cheap scan; callers
    that already know the size (``_connected_components_stats`` reports
    the loser count for free) pass ``n_ids`` and the gate costs no job
    at all (r13, VERDICT #1: batch the counted gates)."""
    if n_ids is None:
        n_ids = ids.count() if broadcast_limit > 0 else broadcast_limit + 1
    if 0 < broadcast_limit and n_ids <= broadcast_limit:
        ids = F.broadcast(ids)
    return df.join(ids, id_col, "left_anti")


def near_dedup_survivors(
    df: DataFrame,
    verified_pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    broadcast_limit: int = LOSER_BROADCAST_LIMIT,
) -> DataFrame:
    """Cluster-level near-dedup: drop every doc whose component
    representative (min id) is another doc. Input pairs should already be
    verified (e.g. ``ngram_jaccard_pairs(...) >= t`` on LSH candidates).
    The drop set's size is dup-rate-dependent — a few ids on curated
    corpora, O(corpus) at web-crawl dup rates — so the anti-join
    broadcasts only under a counted bound (``anti_join_ids``); past it,
    the corpus anti-joins on 8-byte ids with no forced hint.  The loser
    count rides out of the components loop's own convergence aggregate
    (``_connected_components_stats``), so the gate costs no extra job."""
    cc, n_losers = _connected_components_stats(verified_pairs)
    drop = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return anti_join_ids(
        df, drop, id_col, broadcast_limit=broadcast_limit, n_ids=n_losers
    )


def _simhash_probe_tables(
    sigs: DataFrame,
    *,
    bits: int,
    max_hamming: int,
    n_blocks: int,
    id_col: str,
    sig_col: str,
) -> DataFrame:
    """(id, sig, combo, key) probe rows for combination block probing.

    The signature is split into ``n_blocks`` near-equal bit blocks; a probe
    table exists for every (n_blocks - max_hamming)-subset of blocks, keyed
    on the CONCATENATION of those blocks' values.  Two signatures within
    Hamming distance k differ in at most k blocks, hence agree exactly on
    ≥ n_blocks - k blocks — and any (n_blocks - k)-subset of that agreeing
    set is one of our combos, so every true pair collides in at least one
    probe table (pigeonhole → COMPLETE)."""
    from itertools import combinations

    if n_blocks <= max_hamming:
        raise ValueError("n_blocks must exceed max_hamming")
    width = bits // n_blocks
    widths = [width + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]
    s = F.col(sig_col)
    block = [
        F.shiftright(s, offs[j]).bitwiseAND((1 << widths[j]) - 1)
        for j in range(n_blocks)
    ]
    combos = list(combinations(range(n_blocks), n_blocks - max_hamming))
    if sum(widths[j] for j in combos[0]) > 62:
        raise ValueError("combined probe key exceeds 62 bits; lower n_blocks")
    entries = []
    for ci, combo in enumerate(combos):
        key = F.lit(0).cast("long")
        for j in combo:
            key = F.shiftleft(key, widths[j]).bitwiseOR(block[j])
        entries.append(F.struct(F.lit(ci).alias("combo"), key.alias("key")))
    return sigs.select(
        F.col(id_col), s, F.explode(F.array(*entries)).alias("ck")
    ).select(id_col, sig_col, "ck.combo", "ck.key")


def simhash_bucket_audit(
    sigs: DataFrame,
    *,
    bits: int = 56,
    max_hamming: int = 3,
    n_blocks: int = 6,
    max_bucket_size: int = 2048,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Audit companion to :func:`simhash_near_dup_pairs` (same pattern as
    the MinHash audit): the (combo, key, size) probe buckets the cap
    REMOVES from the candidate join.  Empty result ⇒ the cap did not fire
    and the pair set is complete; non-empty ⇒ those keys are
    near-identical mega-clusters to route through exact dedup."""
    keys = _simhash_probe_tables(
        sigs,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        id_col=id_col,
        sig_col=sig_col,
    )
    return (
        keys.groupBy("combo", "key")
        .agg(F.count(F.lit(1)).alias("size"))
        .where(F.col("size") > max_bucket_size)
    )


def simhash_near_dup_pairs(
    sigs: DataFrame,
    *,
    bits: int = 56,
    max_hamming: int = 3,
    n_blocks: int = 6,
    max_bucket_size: int | None = 2048,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Hamming-neighbor pairs over SimHash signatures by COMBINATION BLOCK
    PROBING (Manku, Jain & Sarma, WWW'07 §3): split the signature into
    ``n_blocks`` blocks and build one probe table per
    (n_blocks - max_hamming)-subset of blocks, keyed on the concatenation
    of those blocks.  Pigeonhole makes the candidate set COMPLETE (at most
    ``max_hamming`` blocks differ, so some probed subset agrees exactly);
    an exact popcount(xor) verify removes collisions.

    Probing on block COMBINATIONS — not single blocks — is what survives
    corpus scale: with bits=56, max_hamming=3, n_blocks=6 each probe key
    carries ~28 bits (C(6,3)=20 tables), so bucket sizes fall as n/2²⁸
    and the self-join stays linear-ish in true near-dups; single-block
    probing (n_blocks = k+1) would leave 256-value keys at bits=32 and an
    ~n²/256 candidate cliff.  Choose n_blocks so the probe-key width
    (n_blocks - max_hamming)/n_blocks × bits ≥ log₂(corpus size).

    ``max_bucket_size`` guards the residual hot-bucket edge exactly like
    MinHash-LSH (``minhash_near_dup_pairs``): a cluster of d identical
    signatures emits O(d²) pairs per probe table; buckets past the cap are
    excluded here and surfaced by :func:`simhash_bucket_audit` — route
    them through exact dedup.  None disables the cap (exact completeness).

    Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ max_hamming.
    Shuffles (combo, key, id, sig) rows only — never text."""
    keys = _simhash_probe_tables(
        sigs,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        id_col=id_col,
        sig_col=sig_col,
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("combo", "key")
        keys = (
            keys.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = keys.select(
        F.col("combo"), F.col("key"),
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"),
    )
    b = keys.select(
        F.col("combo"), F.col("key"),
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"),
    )
    cands = (
        a.join(b, ["combo", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
