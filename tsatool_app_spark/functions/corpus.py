"""Corpus-preparation operators for large-scale training-data pipelines.

Beyond the reference's surface (same extension family as functions/text.py):
document chunking, Gopher-style repetition signals, PII redaction,
per-group stratified sampling, and per-document top terms.

Scale design rules applied throughout:

- Chunking and repetition signals are PURE per-row Column expressions
  (split / slice / zip_with / aggregate higher-order functions) — zero
  shuffle, whole-stage codegen, so a 100 TB documents table chunks at scan
  speed. No explode-then-regroup round trip for per-document stats.
- Top-terms and stratified sampling shuffle exactly once each, on keys
  (doc_id resp. group) that are either unique or low-cardinality-but-
  bounded-output — no skew amplification.
- Every output column is integer/string-typed (counts, not float ratios),
  so DuckDB oracles compare hash-exactly; callers derive ratios downstream.

Reference scope parity note: the reference app has no corpus operators
(it is a road-weather condition engine); these belong to the rebuild's
stated LLM-pipeline extension surface, same contract as functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Conservative PII patterns in the regex subset shared by java.util.regex
#: (Spark) and RE2 (DuckDB, Go): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_RE = r"\b[0-9]{9,}\b"  # account/phone-like digit runs


def _tokens(text: Column) -> Column:
    """Whitespace tokens with empties dropped (split collapses nothing)."""
    return F.filter(F.split(text, " "), lambda x: x != F.lit(""))


def _gram_array(text: Column, n: int) -> Column:
    """Array of word ``n``-grams (space-joined) — empty for documents
    shorter than ``n`` words.  The single statement of the word-gram
    rule, shared by :func:`contamination_hits` and :func:`decon_probe`."""
    toks = _tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the standard
    pre-embedding / pre-tokenization step for training pipelines).

    Plan: one narrow projection — tokenize, generate chunk starts with
    ``sequence``, ``posexplode`` the starts, ``slice`` out each window.
    The only row-count growth is the output chunks themselves; no shuffle,
    no UDF, so it runs at parquet scan speed regardless of corpus size.

    Output: (id, chunk_id, chunk_text, n_tokens); the final chunk may be
    shorter than ``chunk_tokens``. Empty documents yield one empty chunk
    (keeps the row-per-document invariant for downstream joins).
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = _tokens(F.col(text_col))
    with_starts = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(step)
            )
        ).alias("chunk_id", "_start"),
    )
    window = F.slice(F.col("_toks"), F.col("_start"), chunk_tokens)
    return with_starts.select(
        id_col,
        "chunk_id",
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("n_tokens"),
    )


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — i.e. the
    count of the most frequent element — via a single ``aggregate`` fold.
    Runs entirely inside codegen; no explode, no shuffle."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc.best)


def repetition_signals(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document:
    most-frequent word/bigram counts and repeated-trigram excess.

    All counts are computed inside the row with array higher-order
    functions (sort + linear fold for the mode count; zip_with for n-gram
    assembly) — the per-document group-by that the naive explode plan would
    shuffle is eliminated entirely. Emits integer numerators/denominators
    (not float ratios) so results are engine-exact; filter thresholds like
    "top bigram covers >18% of text" are one downstream expression.
    """
    toks = _tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("t"))
    t = F.col("t")
    n = F.size(t)
    pair_len = F.greatest(n - 1, F.lit(0))
    tri_len = F.greatest(n - 2, F.lit(0))
    bigrams = F.zip_with(
        F.slice(t, 1, pair_len),
        F.slice(t, 2, pair_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    trigrams = F.zip_with(
        F.zip_with(
            F.slice(t, 1, tri_len),
            F.slice(t, 2, tri_len),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(t, 3, tri_len),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    return base.select(
        id_col,
        n.cast("long").alias("n_words"),
        _max_run_length(F.sort_array(t)).cast("long").alias("top_word_count"),
        pair_len.cast("long").alias("n_bigrams"),
        _max_run_length(F.sort_array(bigrams)).cast("long").alias("top_bigram_count"),
        tri_len.cast("long").alias("n_trigrams"),
        (tri_len - F.size(F.array_distinct(trigrams)))
        .cast("long")
        .alias("dup_trigram_excess"),
    )


def redact_pii(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact email addresses and long digit runs (account/phone-like),
    returning the cleaned text plus a redaction count per document.

    Pure regexp Column expressions (JVM regex, no UDF). The patterns stay
    in the common java.util.regex ∩ RE2 subset so the same strings drive
    the DuckDB oracle; at scale this is a scan-speed map with no shuffle.
    """
    t = F.col(text_col)
    cleaned = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), LONG_DIGITS_RE, "<NUM>"
    )
    n = F.regexp_count(t, F.lit(EMAIL_RE)) + F.regexp_count(
        t, F.lit(LONG_DIGITS_RE)
    )
    return docs.select(
        id_col, n.cast("long").alias("n_redacted"), cleaned.alias("clean_text")
    )


def stratified_sample_n(
    docs: DataFrame,
    n_per_group: int,
    group_col: str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group quota sample: the ``n_per_group`` rows with
    the smallest md5(id) per group — the standard recipe for balancing a
    training mix across languages/sources without a random seed.

    One shuffle on the group key. Engine- and partitioning-independent
    (the md5 order is a pure function of the id), so any two runs — or two
    engines — select identical rows. Group count is low (languages,
    sources), but per-group row counts are huge and NOT collected anywhere;
    the window stays distributed. For pathological single-group skew,
    pre-aggregate with the salted path (operators/skew.py).
    """
    order_key = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(order_key, id_col)
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= n_per_group)
        .select(id_col, group_col, "rk")
    )


def contamination_hits(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_texts: bool = True,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing any word
    ``n``-gram with the benchmark set, with the number of shared-gram
    occurrences — the standard eval-leakage filter for training corpora.

    Plan: the benchmark's distinct grams are BROADCAST (eval sets are
    thousands of rows; the corpus is the big side), so the containment
    check is a map-side hash probe on the training scan — no shuffle of
    training grams. Only the matched (id, gram) survivors are aggregated.
    Documents shorter than ``n`` words contribute no grams (and cannot be
    flagged).

    ``dedup_texts`` (default on): a document's hit count is a pure
    function of its TEXT, so the gram explode + probe runs over one
    min-id representative per distinct md5(text) and the per-rep counts
    join back through the md5 groups — on clone-heavy corpora the probe
    cost drops by the duplication factor with identical output (pinned by
    test_contamination_dedup_texts_matches_direct).

    Running this AND a span probe over the same corpus? Use
    :func:`decon_probe` — both probe streams from ONE text scan."""
    def grams(df: DataFrame, out: str, idc: str) -> DataFrame:
        g = _gram_array(F.col(text_col), n)
        return df.select(F.col(idc), F.explode(g).alias(out))

    bench_grams = grams(benchmark, "g", id_col).select("g").distinct()

    if dedup_texts:
        groups = train.select(
            F.md5(F.col(text_col)).alias("_h"), F.col(id_col)
        ).localCheckpoint(eager=False)
        rep = groups.groupBy("_h").agg(F.min(id_col).alias("_rep"))
        reps = rep.join(
            train.select(F.col(id_col).alias("_rep"), F.col(text_col)), "_rep"
        )
        rep_hits = (
            grams(reps, "g", "_rep")
            .join(F.broadcast(bench_grams), "g")
            .groupBy("_rep")
            .agg(F.count("*").cast("long").alias("n_hits"))
        )
        return (
            groups.join(rep, "_h")
            .join(rep_hits, "_rep")
            .select(F.col(id_col), "n_hits")
        )

    return (
        grams(train, "g", id_col)
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def _decon_probe_arrow(
    train: DataFrame,
    ngram_n: int,
    window_len: int,
    rate_hex_lt: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Arrow path of :func:`decon_probe`: one ``mapInPandas`` pass
    emitting BOTH probe streams.  Span selection is
    spans._doc_span_fps (the one python statement of the md5 rule,
    byte-identical to the SQL path); grams replicate _gram_array's
    split-on-single-space rule (token content is identical — Java and
    Python both split on every ' ' and empties are dropped).  Flush
    bound per task as in spans._span_fingerprints_arrow."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from tsatool_app_spark.functions.spans import (
        _ARROW_FLUSH_ROWS, _doc_span_fps,
    )

    th = int(rate_hex_lt, 16)
    w, n = window_len, ngram_n
    out_schema = StructType(
        [
            StructField("doc_id", train.schema[id_col].dataType),
            StructField("kind", StringType()),
            StructField("key", StringType()),
            StructField("pos", IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, kinds, keys, poss = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in text.split(" ") if t]
                for i in range(len(toks) - n + 1):
                    ids.append(doc_id)
                    kinds.append("g")
                    keys.append(" ".join(toks[i : i + n]))
                    poss.append(None)
                for p1, fp in _doc_span_fps(text, w, th):
                    ids.append(doc_id)
                    kinds.append("s")
                    keys.append(fp)
                    poss.append(p1)
                if len(ids) >= _ARROW_FLUSH_ROWS:
                    yield pd.DataFrame(
                        {"doc_id": ids, "kind": kinds, "key": keys,
                         "pos": pd.array(poss, dtype="Int32")}
                    )
                    ids, kinds, keys, poss = [], [], [], []
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "kind": kinds, "key": keys,
                     "pos": pd.array(poss, dtype="Int32")}
                )

    return train.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def decon_probe(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    ngram_n: int = 8,
    window_len: int = 40,
    rate_hex_lt: str = "2",
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "sql",
) -> tuple[DataFrame, DataFrame]:
    """BOTH benchmark-decontamination probes from ONE pass over the
    training text: returns ``(ngram_hit_ids, span_hits)``.

    - ``ngram_hit_ids``: (doc_id) — documents sharing any word
      ``ngram_n``-gram with the benchmark (exactly
      :func:`contamination_hits`'s hit SET, without occurrence counts);
    - ``span_hits``: (doc_id, pos, fp) — every selected ``window_len``-
      char window matching a selected benchmark fingerprint (exactly the
      rows :func:`tsatool_app_spark.functions.spans.excise_spans` /
      span_contamination_hits would match; feed them onward via
      ``excise_spans(..., hits=span_hits)``).

    Why it exists: at 100 TB a full-text scan is the unit of cost, and
    running the word-gram and span filters as separate operators reads
    the corpus text TWICE (r9 VERDICT watch item #3).  Here one
    projection emits both probe streams tagged 'g'/'s', one explode
    feeds one broadcast join against the unioned benchmark key set, and
    the matched rows — the tiny side — are lazily checkpointed so the
    two returned frames SHARE the single scan instead of re-running it
    per consumer.  ``impl="arrow"`` computes both streams in one
    ``mapInPandas`` pass (:func:`_decon_probe_arrow`).

    No dedup-texts fast path here: the composed pipeline feeds
    exact-dedup SURVIVORS (every text already distinct); standalone
    clone-heavy callers should use the per-operator functions, which
    keep their ``dedup_texts`` knobs.  Hit sets are pinned identical to
    the standalone operators by test_decon_probe_matches_standalone.

    Memory bound (``impl="sql"``): the fused projection materializes
    BOTH per-doc probe arrays — the word-gram structs (~n × text size)
    AND the ``_sel_expr`` window array (~70 B/char, see its docstring's
    ~1 MB doc bound) — before the explode, roughly DOUBLING per-task
    peak memory versus the staged operators.  Keep docs under ~500 KB
    on this path; for bulk scans of long documents prefer
    ``impl="arrow"``, which streams both probe streams out of one
    mapInPandas pass without the double materialization."""
    from tsatool_app_spark.functions.spans import _sel_expr
    from tsatool_app_spark.model import spread_small_input

    if impl not in ("sql", "arrow"):
        raise ValueError("impl must be 'sql' or 'arrow'")

    def fused(df: DataFrame) -> DataFrame:
        """One text pass emitting BOTH probe streams of ``df`` as
        (doc_id, kind, key, pos) — applied to the training corpus AND,
        since r13, to the benchmark key build: the r12 shape derived the
        benchmark's gram keys and span keys from two separate subtrees
        (two text passes, two distincts), and the span subtree ran the
        ~70 B/char _sel_expr lambda on however few partitions the
        benchmark scan had — measured at sf0.1 as a 2.5 s single-task
        job inside the bench_keys broadcast."""
        if impl == "arrow":
            return _decon_probe_arrow(
                df, ngram_n, window_len, rate_hex_lt, text_col, id_col
            )
        g_entries = F.transform(
            _gram_array(F.col(text_col), ngram_n),
            lambda g: F.struct(
                F.lit("g").alias("kind"),
                g.alias("key"),
                F.lit(None).cast("int").alias("pos"),
            ),
        )
        s_entries = F.transform(
            F.expr(_sel_expr(text_col, window_len, rate_hex_lt)),
            lambda x: F.struct(
                F.lit("s").alias("kind"),
                x["fp"].alias("key"),
                x["pos"].cast("int").alias("pos"),
            ),
        )
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.concat(g_entries, s_entries)).alias("e"),
        ).select("doc_id", "e.kind", "e.key", "e.pos")

    bench_keys = (
        fused(
            spread_small_input(
                benchmark.select(F.col(id_col), F.col(text_col)), key=id_col
            )
        )
        .select("kind", "key")
        .distinct()
    )
    probes = fused(train)

    hits = probes.join(
        F.broadcast(bench_keys), ["kind", "key"]
    ).localCheckpoint(eager=False)
    ng_hit_ids = hits.where(F.col("kind") == "g").select("doc_id").distinct()
    span_hits = hits.where(F.col("kind") == "s").select(
        "doc_id", F.col("pos"), F.col("key").alias("fp")
    )
    return ng_hit_ids, span_hits


def vocab_top_terms(
    docs: DataFrame,
    *,
    n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level vocabulary: the ``n`` most frequent terms with total
    and document frequencies — the input to tokenizer/vocab training.

    Plan: explode → ONE global groupBy(term). Map-side partial aggregation
    collapses each partition's term counts before the exchange, so the
    shuffle carries at most |vocab| rows per partition regardless of corpus
    size — hot terms ("the") are pre-summed locally, which is exactly the
    skew story a naive count-by-key would lose. df uses count(DISTINCT id)
    per term: Spark expands it to a two-stage exact aggregate, still keyed
    on term. Final top-n by (tf desc, term asc) — integer/string ordering,
    engine-exact."""
    words = docs.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    return (
        words.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct(id_col).cast("long").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(n)
    )


def top_terms(
    docs: DataFrame,
    *,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by term frequency (tie-break: term asc) —
    the building block for keyword extraction / index construction.

    Plan: explode → partial-aggregated groupBy (map-side combine collapses
    each document's repeats before the exchange) → per-doc window. Both
    shuffles key on doc_id(+term): unique-ish keys, no skew. Ranking is
    (tf desc, term asc) — integers and strings only, so the selection is
    deterministic in any engine (a float tf-idf score would tie-break on
    last-ulp differences across libm implementations).
    """
    words = docs.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"), "rk")
    )


def line_quality_filter(
    docs: DataFrame,
    *,
    min_words: int = 5,
    stopwords: tuple[str, ...] = ("the", "a"),
    line_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style line-level quality filtering: segment each document into
    lines, keep only lines that (a) have at least ``min_words`` words and
    (b) contain at least one stopword (the classic natural-language signal
    — C4 uses terminal punctuation; this corpus has none, so the stopword
    rule plays that role), and re-join the survivors.

    Documents without newlines are segmented into fixed ``line_tokens``-word
    windows first — the deterministic stand-in for natural line breaks,
    same planting philosophy as redact_pii's synthetic PII.

    Output per document: (id, n_lines, n_kept, kept_text). All counts are
    integers and the text reassembly is order-preserving concatenation, so
    the operator is engine-exact.

    Plan: pure per-row array expressions (split → transform/slice →
    filter → array_join) — zero shuffle, whole-stage codegen, scan-speed at
    any corpus size. The quality rules are Column predicates evaluated
    inside the row; nothing explodes.
    """
    toks = _tokens(F.col(text_col))
    lines = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(line_tokens)),
        lambda i: F.slice(toks, i, line_tokens),
    )
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    kept = F.filter(
        lines,
        lambda l: (F.size(l) >= min_words) & F.arrays_overlap(l, stop_arr),
    )
    return docs.select(
        id_col,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda l: F.array_join(l, " ")), "\n"
        ).alias("kept_text"),
    )


def pack_sequences(
    df: DataFrame,
    *,
    budget: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing for pretraining batch construction: assign
    each document to a token-budget bin — ``(doc_id, shard, bin_id,
    n_tokens)`` — closing the current bin whenever adding the next doc
    would exceed ``budget`` whitespace tokens (an over-budget doc gets a
    bin of its own).

    Greedy first-fit-in-order packing is inherently sequential, so the
    shard is the unit of parallelism: docs are hashed to ``id % n_shards``
    shards, ordered by id within shard, and packed by a per-shard
    ``applyInPandas`` scan. The scan's input is ``(id, shard, n_tokens)``
    ONLY — token counts are computed JVM-side before the shuffle, so the
    exchange moves three ints per document, never text. At 100 TB that is
    the difference between shuffling the corpus and shuffling ~24 bytes/doc;
    raise ``n_shards`` to the cluster's core count to bound per-group state.

    ``token_count_col``: pack by an existing REAL token-count column
    (e.g. :func:`tsatool_app_spark.functions.bpe.add_bpe_token_counts`
    output) instead of the whitespace approximation; the default
    whitespace path is unchanged.
    """
    import pandas as pd

    # NULL counts coalesce to 0: a NaN reaching pack()'s fill accumulator
    # poisons it (fill + NaN > budget is always False, silently collapsing
    # every later doc in the shard into one bin) — mirror
    # bpe_token_count_col's own F.coalesce for any user-supplied column
    n_tok = (
        F.size(_tokens(F.col(text_col)))
        if token_count_col is None
        else F.coalesce(F.col(token_count_col), F.lit(0))
    )
    counted = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        n_tok.cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        first = True
        for tok in pdf["n_tokens"]:
            if not first and fill + tok > budget:
                bin_id += 1
                fill = tok
            else:
                fill += tok
            first = False
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    return counted.groupBy("shard").applyInPandas(
        pack, schema=f"{id_col} long, shard long, n_tokens long, bin_id long"
    )


def clean_corpus(
    docs: DataFrame,
    *,
    lang: str = "en",
    min_quality: float = 0.6,
) -> DataFrame:
    """The composed cleaning pass a training-data pipeline runs first:
    language filter -> quality floor -> exact-dedup survivors -> PII
    redaction -> token accounting.

    Language, quality, token count, and redaction are all per-row Column
    expressions, so they compute on ONE scan projection — no self-joins
    (the r2 shape joined five derivations of the corpus on doc_id, which
    cost four shuffle joins and blew whole-stage codegen past the JVM's
    64 KB method cap, dropping the stage to interpreted eval).  The only
    shuffle left is the exact-dedup groupBy on the 16-byte md5, applied
    as a left-semi join of survivor ids.

    Keeps a doc iff its predicted language is ``lang``, its quality score
    is >= ``min_quality``, and it is the designated survivor (min doc_id)
    of its exact-duplicate group. Returns (doc_id, lang_pred, quality,
    n_tokens_ws, clean_text) with PII redacted from clean_text.
    """
    from tsatool_app_spark.functions.dedup import exact_dedup_groups
    from tsatool_app_spark.functions.text import (
        _count_occurrences,
        lang_pred_col,
        quality_col,
    )

    survivors = exact_dedup_groups(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    t = F.col("text")
    cleaned = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), LONG_DIGITS_RE, "<NUM>"
    )
    return (
        docs.select(
            "doc_id",
            lang_pred_col(t).alias("lang_pred"),
            quality_col(t).alias("quality"),
            (_count_occurrences(t, " ") + 1).alias("n_tokens_ws"),
            cleaned.alias("clean_text"),
        )
        .where((F.col("lang_pred") == lang) & (F.col("quality") >= min_quality))
        .join(survivors, "doc_id", "left_semi")
    )


def dedup_lines_within_doc(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 0,
) -> DataFrame:
    """WITHIN-document repeated-line removal (the C4-family boilerplate
    rule applied inside each doc): split on ``sep``, keep only the FIRST
    occurrence of each exact line within the document, and rejoin the
    survivors in their original order.  Repeated nav menus, footers, and
    cookie banners pasted several times into one crawled page collapse
    to their first copy; documents without repeats pass through
    byte-identical.  Complements :func:`drop_duplicate_chunks`, which
    dedups chunks ACROSS documents.

    Lines shorter than ``min_chars`` are exempt (always kept): tiny
    connectives ("", "-", "yes") legitimately repeat and are not
    boilerplate.

    Output: (id, clean_text, n_lines, n_lines_dropped) — one row per
    input document, unconditionally: NULL-text docs pass through with
    NULL clean_text and NULL counts (split(NULL) explodes to no rows, so
    they ride the left join's pass-through side); n_lines counts the
    ORIGINAL lines.

    Plan shape at 100 TB: the dedup DECISION shuffles only (id,
    md5(line), pos) — 16-byte hashes plus two longs, never line text.
    The rebuild join is per-doc (the kept-position side is one row per
    document — corpus cardinality, not broadcastable), so text rides
    exactly ONE exchange there; what the hash-only first stage buys is
    that the window sort and row_number dedup — the wide, skew-prone
    work — never carry text."""
    import re as _re

    # F.split takes a regex — escape so sep is LITERAL, matching the
    # oracle's string_split; limit -1 keeps trailing empty lines
    lines = F.split(F.col(text_col), _re.escape(sep), -1)
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(lines).alias("_pos", "_line"),
    ).select(
        id_col,
        "_pos",
        F.md5("_line").alias("_h"),
        (F.length("_line") < min_chars).alias("_exempt"),
    )
    w = Window.partitionBy(id_col, "_h").orderBy("_pos")
    kept = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_exempt") | (F.col("_rn") == 1))
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list("_pos")).alias("_keep"),
            F.count("*").alias("_n_kept"),
        )
    )
    # splice on the documents scan: positions are 0-based over the same
    # deterministic split, so element selection reconstructs the text
    # without the lines ever having crossed the shuffle
    rebuilt = F.array_join(
        F.transform(F.col("_keep"), lambda p: F.element_at(lines, p + 1)),
        sep,
    )
    # explicit NULL guard: legacy size(NULL) is -1, not NULL
    n_lines = F.when(
        F.col(text_col).isNotNull(), F.size(lines).cast("long")
    )
    # left join: NULL-text docs have no exploded rows, hence no kept row —
    # they must still emit their output row (NULL clean_text / counts)
    return docs.join(kept, id_col, "left").select(
        F.col(id_col),
        rebuilt.alias("clean_text"),
        n_lines.alias("n_lines"),
        (n_lines - F.col("_n_kept")).cast("long").alias("n_lines_dropped"),
    )


def drop_duplicate_chunks(
    docs: DataFrame,
    *,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-passage removal (the C4 recipe, at chunk
    granularity): split every document into NON-overlapping token
    windows, keep each distinct chunk's FIRST occurrence corpus-wide
    (ordered by doc id, then position), and reconstruct documents from
    their surviving chunks.  Boilerplate repeated across thousands of
    pages — headers, footers, license blocks — disappears from all but
    the first document carrying it.  For repeats INSIDE a single
    document (a banner pasted several times into one page), use
    :func:`dedup_lines_within_doc`.

    Scale shape: the only wide stage shuffles (md5(chunk), doc_id,
    chunk_id) triples — 16-byte keys, never the chunk text (exact_dedup
    rationale); reconstruction is one groupBy(doc) over the survivors
    with an in-group array sort.  Documents whose every chunk was seen
    earlier vanish entirely (they are pure duplicates).
    """
    chunks = chunk_documents(
        docs,
        chunk_tokens=chunk_tokens,
        overlap_tokens=0,
        text_col=text_col,
        id_col=id_col,
    ).where(F.col("n_tokens") > 0)
    w = Window.partitionBy("_h").orderBy(id_col, "chunk_id")
    kept = (
        chunks.withColumn("_h", F.md5("chunk_text"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("chunk_id"), F.col("chunk_text")))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(ordered, lambda s: s.chunk_text), " "
            ).alias("text"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def corpus_datacard(docs: DataFrame, *, text_col: str = "text") -> dict:
    """One-call dataset datasheet: the numbers every corpus release ships
    with — volume, exact-duplication rate, language mix, quality
    distribution, and length percentiles — assembled from this module's
    operators in FOUR jobs total (each constituent is one aggregate; the
    per-doc stats share one scan via a single projection).

    Returns a plain dict (JSON-ready); writing it next to the data is the
    caller's one line.  This is a reporting edge: collects are one row
    (or |languages| rows), never the corpus."""
    from tsatool_app_spark.functions.dedup import exact_dedup_groups
    from tsatool_app_spark.functions.text import lang_pred_col, quality_col

    t = F.col(text_col)
    per_doc = docs.select(
        lang_pred_col(t).alias("lang_pred"),
        quality_col(t).alias("quality"),
        F.length(t).alias("n_chars"),
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.avg("quality").alias("mean_quality"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").alias("p50_chars"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)").alias("p95_chars"),
        F.sum((F.col("quality") >= 0.6).cast("long")).alias("n_quality_pass"),
    ).collect()[0]
    langs = {
        r["lang_pred"]: r["n"]
        for r in per_doc.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    groups = exact_dedup_groups(docs, text_col=text_col)
    dup = groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
    ).collect()[0]
    n = agg["n_docs"]
    return {
        "n_docs": n,
        "total_chars": int(agg["total_chars"]),
        "mean_quality": float(agg["mean_quality"]),
        "quality_pass_rate": agg["n_quality_pass"] / n if n else None,
        "chars_p50": int(agg["p50_chars"]),
        "chars_p95": int(agg["p95_chars"]),
        "language_mix": langs,
        "n_distinct_texts": dup["n_distinct"],
        "exact_dup_rate": (dup["n_docs"] - dup["n_distinct"]) / dup["n_docs"]
        if dup["n_docs"]
        else None,
    }


def pretraining_mix(
    docs: DataFrame,
    benchmark: DataFrame,
    budgets: dict[str, int],
    *,
    lang: str = "en",
    min_quality: float = 0.6,
    min_jaccard: float = 0.85,
    ngram_n: int = 8,
    window_len: int = 40,
    source_col: str = "source",
    token_col: str = "n_chars",
    pack_budget: int = 256,
    n_shards: int = 8,
    impl: str = "sql",
    checkpoint: bool = True,
    decon: str = "drop",
    excise_pad: int = 0,
) -> DataFrame:
    """The WHOLE pretraining-data pipeline as one certified composition:

    clean (lang + quality + exact-dedup survivors)
      → near-dup survivorship (MinHash-LSH + exact verify + connected
        components; the min-id doc of each duplicate cluster survives)
      → benchmark decontamination (word ``ngram_n``-grams AND
        ``window_len``-char content-defined spans — a doc flagged by
        EITHER filter is dropped; ``decon="excise"`` instead SPLICES the
        detected spans out via :func:`tsatool_app_spark.functions.spans.
        excise_spans` and keeps the clean remainder — n-gram hits still
        drop the whole doc (word grams have no span localization), docs
        excised to nothing are dropped, packing token counts are
        recomputed over the POST-excision text, and the mixture's
        ``token_col`` is rescaled by the excision ratio
        (``token * len(clean)/len(orig)``, exact integer round-half-up:
        untouched docs keep their count EXACTLY, and a char-count
        ``token_col`` lands on ``len(clean)`` exactly) so real tokenizer
        counts stay in their own units;
        ``excise_pad`` widens each excised window, trading residue
        probability (7/8)^(pad+1) for extra removed margin)
      → token-budget mixture over ``budgets`` (sources not budgeted are
        dropped; kept docs carry ``rate_q``)
      → greedy sequence packing into ``pack_budget``-token bins.

    Output: (doc_id, source, rate_q, shard, bin_id, n_tokens), one row
    per document that survives every stage, ordered by the packing
    contract (shard = doc_id % n_shards, bins greedy in id order).

    Every stage exists — and is oracle-certified — as a standalone
    operator (clean_corpus, near_dup_pairs_dedup_first +
    connected_components, contamination_hits, span_contamination_hits,
    token_budget_mixture, pack_sequences); what THIS function certifies
    is the seams: the id/schema contracts between stages, which the
    per-operator oracles cannot see (r8 VERDICT ask #7).

    Plan shape at 100 TB: the composition adds only left-semi/left-anti
    joins on doc_id between stages — id-only shuffles; text rides only
    the stages that hash it (near-dup shingles over one representative
    per distinct text, decontamination probes against BROADCAST
    benchmark keys — and BOTH decon probes, word grams and span
    fingerprints, stream from ONE text pass via :func:`decon_probe`, so
    decontamination costs one corpus read, not two).  ``impl="arrow"`` switches the span hashing to the
    mapInPandas bulk path (byte-identical; ~11×).  ``checkpoint``
    (default on) truncates the lineage of six frames with
    ``localCheckpoint(eager=False)``: the input ``docs``, the clean
    survivors ``surv``, the near-dup ``losers``, the survivors ``kept``,
    the decontaminated ``decon_df`` and the budgeted ``mix``, so no
    stage is recomputed per consumer.  "Lazy" does not mean free: under
    AQE each call runs the frame's shuffle map stages as jobs before it
    returns, and only the final result stage waits for the first action
    — so much of the pipeline's wall time is spent inside these calls,
    not in the caller's collect.  Output is identical either way (the
    registry oracle runs with the default).
    """
    from tsatool_app_spark.functions.dedup import (
        anti_join_ids,
        near_dedup_loser_ids,
    )
    from tsatool_app_spark.functions.sampling import token_budget_mixture
    from tsatool_app_spark.functions.spans import excise_spans

    if decon not in ("drop", "excise"):
        raise ValueError(f"decon must be 'drop' or 'excise', got {decon!r}")

    if checkpoint:
        # The INPUT plan is referenced three times before the survivor
        # checkpoint below (semi-join left side + twice inside
        # clean_corpus: the scan projection and the exact-dedup group
        # table).  A caller handing in a non-trivial upstream pipeline
        # (unions, planted fixtures, prior transformations) would pay it
        # on every reference — measured r12 at the sf10 fixture: the
        # clean→survivor leg alone dropped 58 s → ~12 s with the input
        # materialized once (SCALING.md r12).
        docs = docs.localCheckpoint(eager=False)

    clean = clean_corpus(docs, lang=lang, min_quality=min_quality)
    surv = docs.join(clean.select("doc_id"), "doc_id", "left_semi")
    if checkpoint:
        # The clean-survivor relation feeds THREE downstream derivations
        # (the near-dup edge pipeline — eagerly materialized inside
        # connected_components — plus kept and, through it, both
        # decontamination probes); without truncation the clean scan +
        # md5 agg re-runs inside each (measured r9: the composed plan was
        # 2.5x the staged sum at sf1 before these checkpoints).
        surv = surv.localCheckpoint(eager=False)

    # Near-dup survivorship at REPRESENTATIVE level (r13): identical
    # loser set to connected_components over the expanded doc-level pair
    # graph (near_dedup_loser_ids docstring has the proof; pinned by
    # test_near_dedup_loser_ids_matches_expanded), without materializing
    # the O(Σ clone_group²) pair expansion the components loop would
    # immediately contract away.
    losers = near_dedup_loser_ids(surv, min_jaccard=min_jaccard)
    if checkpoint:
        losers = losers.localCheckpoint(eager=False)
    # loser-set size is dup-rate-dependent (O(corpus) on web crawls):
    # broadcast only under the counted bound; past it, anti-join on
    # 8-byte ids with no hint (anti_join_ids rationale).  The count job
    # doubles as the losers-checkpoint materialization.
    kept = anti_join_ids(surv, losers, "doc_id")
    if checkpoint:
        kept = kept.localCheckpoint(eager=False)

    # ONE text pass derives BOTH decon probes (decon_probe): word
    # n-grams and span fingerprints stream from the same scan into one
    # broadcast join, instead of contamination_hits +
    # span_contamination_hits/excise_spans each re-reading the corpus
    # (r9 VERDICT #2 — at 100 TB the text scan is the unit of cost)
    ng_hits, sp_hit_rows = decon_probe(
        kept, benchmark, ngram_n=ngram_n, window_len=window_len, impl=impl
    )
    if decon == "excise":
        # n-gram hits still drop whole docs; span hits are spliced out
        # and the doc survives with its clean remainder (unless nothing
        # remains).  token_col is recomputed over the post-excision text
        # so the mixture budgets what will actually be trained on.
        ng_kept = kept.join(ng_hits, "doc_id", "left_anti")
        # hits= skips excise's own probe: the span stream of the fused
        # scan above is exactly the matched rows it would compute
        ex = excise_spans(
            ng_kept, window_len=window_len, pad=excise_pad,
            hits=sp_hit_rows,
        )
        # Rescale the caller's token count by the excision ratio —
        # token_col * len(clean)/len(orig), rounded half-up in exact
        # integer arithmetic — so a real tokenizer count stays in its
        # own units (untouched docs pass through EXACTLY; with the
        # default char-count token_col this equals len(clean) exactly).
        decon_df = (
            ng_kept.select(
                "doc_id",
                source_col,
                F.col(token_col).cast("long").alias("_tok0"),
                F.length("text").alias("_len0"),
            )
            .join(
                ex.where(F.length("clean_text") > 0).select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
            .withColumn(
                token_col,
                F.expr(
                    "(_tok0 * length(text) + _len0 div 2) div _len0"
                ).cast("long"),
            )
            .drop("_tok0", "_len0")
        )
    else:
        decon_df = kept.join(
            ng_hits.unionByName(
                sp_hit_rows.select("doc_id").distinct()
            ).distinct(),
            "doc_id",
            "left_anti",
        )
    if checkpoint:
        decon_df = decon_df.localCheckpoint(eager=False)

    mix = token_budget_mixture(
        decon_df, budgets, source_col=source_col, token_col=token_col
    )
    if checkpoint:
        # consumed twice: the packing scan and the final rate_q join-back
        mix = mix.localCheckpoint(eager=False)
    packed = pack_sequences(mix, budget=pack_budget, n_shards=n_shards)
    return packed.join(
        mix.select("doc_id", source_col, "rate_q"), "doc_id"
    ).select("doc_id", source_col, "rate_q", "shard", "bin_id", "n_tokens")
