"""Corpus-preparation operators (functions/corpus.py): chunking, repetition
signals, PII redaction, stratified sampling, top terms.

Semantics are pinned on tiny hand-computed fixtures; the DuckDB oracle
cross-check runs in the driver harness (plans/driver_queries.py) and in
test_driver_contract.py.
"""

from __future__ import annotations

import pytest

from tsatool_app_spark.functions.corpus import (
    chunk_documents,
    redact_pii,
    repetition_signals,
    stratified_sample_n,
    top_terms,
    vocab_top_terms,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunking_windows_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(10))
    out = chunk_documents(
        _docs(spark, [(1, words)]), chunk_tokens=4, overlap_tokens=2
    ).orderBy("chunk_id")
    rows = out.collect()
    # starts 1,3,5,7,9 (step 2): windows of 4 tokens, last two truncated
    assert [r.chunk_id for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w2 w3 w4 w5"  # 2-token overlap
    assert rows[3].chunk_text == "w6 w7 w8 w9"
    assert rows[4].chunk_text == "w8 w9"  # truncated tail
    assert [r.n_tokens for r in rows] == [4, 4, 4, 4, 2]


def test_chunking_short_and_empty_docs(spark):
    out = chunk_documents(
        _docs(spark, [(1, "only three words"), (2, "")]),
        chunk_tokens=64,
        overlap_tokens=16,
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 2  # one chunk each — row-per-document invariant
    assert rows[1].chunk_text == "only three words"
    assert rows[1].n_tokens == 3
    assert rows[2].chunk_text == ""
    assert rows[2].n_tokens == 0


def test_chunking_rejects_bad_overlap(spark):
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "x")]), chunk_tokens=8, overlap_tokens=8)


def test_chunking_is_zero_shuffle(spark):
    df = chunk_documents(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_signals_hand_computed(spark):
    # "a b a b a": words 5, top word a=3; bigrams: "a b"x2 "b a"x2 -> top 2;
    # trigrams: "a b a"x2, "b a b" -> 3 total, 2 distinct -> excess 1
    out = repetition_signals(_docs(spark, [(1, "a b a b a"), (2, "")])).collect()
    r = {x.doc_id: x for x in out}
    assert (r[1].n_words, r[1].top_word_count) == (5, 3)
    assert (r[1].n_bigrams, r[1].top_bigram_count) == (4, 2)
    assert (r[1].n_trigrams, r[1].dup_trigram_excess) == (3, 1)
    assert (r[2].n_words, r[2].top_word_count) == (0, 0)
    assert (r[2].n_trigrams, r[2].dup_trigram_excess) == (0, 0)


def test_repetition_signals_zero_shuffle(spark):
    df = repetition_signals(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii_counts_and_text(spark):
    out = redact_pii(
        _docs(
            spark,
            [
                (1, "mail bob.smith+x@corp.example.org and acct 1234567890 ok"),
                (2, "clean text no pii here"),
                (3, "short digits 12345678 stay"),  # 8 digits: below threshold
            ],
        )
    ).collect()
    r = {x.doc_id: x for x in out}
    assert r[1].n_redacted == 2
    assert r[1].clean_text == "mail <EMAIL> and acct <NUM> ok"
    assert r[2].n_redacted == 0 and r[2].clean_text == "clean text no pii here"
    assert r[3].n_redacted == 0 and "12345678" in r[3].clean_text


def test_stratified_sample_quota_and_determinism(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = stratified_sample_n(docs, 5, "lang").collect()
    per_group: dict[str, int] = {}
    for r in s1:
        per_group[r.lang] = per_group.get(r.lang, 0) + 1
    assert all(v == 5 for v in per_group.values())
    # deterministic: same rows under a different partitioning
    s2 = stratified_sample_n(docs.repartition(7), 5, "lang").collect()
    assert sorted((r.doc_id, r.lang, r.rk) for r in s1) == sorted(
        (r.doc_id, r.lang, r.rk) for r in s2
    )


def test_top_terms_ranking_and_ties(spark):
    out = top_terms(
        _docs(spark, [(1, "b a b c a b"), (2, "z y z y")]), k=2
    ).collect()
    r1 = sorted([(x.rk, x.term, x.tf) for x in out if x.doc_id == 1])
    assert r1 == [(1, "b", 3), (2, "a", 2)]
    r2 = sorted([(x.rk, x.term, x.tf) for x in out if x.doc_id == 2])
    assert r2 == [(1, "y", 2), (2, "z", 2)]  # tf tie broken by term asc


def test_vocab_top_terms_ordering_and_df(spark):
    out = vocab_top_terms(_docs(spark, [(1, "a b a"), (2, "b c")]), n=2).collect()
    # tf: a=2 b=2 c=1; tf tie between a and b broken by term asc
    assert [(r.term, r.tf, r.df) for r in out] == [("a", 2, 1), ("b", 2, 2)]


def test_chunking_is_streaming_safe(spark, tmp_path):
    """chunk_documents is stateless (pure projection + generator explode),
    so the same plan must run unchanged on a streaming DataFrame — the
    ingestion shape of a continuously-arriving corpus."""
    src, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    _docs(spark, [(1, " ".join(f"w{i}" for i in range(10)))]).coalesce(
        1
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        chunk_documents(stream, chunk_tokens=4, overlap_tokens=2)
        .writeStream.format("memory")
        .queryName("chunks_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM chunks_out ORDER BY chunk_id").collect()
    assert [r.chunk_text for r in rows][:2] == ["w0 w1 w2 w3", "w2 w3 w4 w5"]
    assert len(rows) == 5


_word = __import__("hypothesis").strategies.text(
    alphabet="abcde", min_size=1, max_size=4
)
_texts = __import__("hypothesis").strategies.lists(
    _word, min_size=0, max_size=40
).map(lambda ws: " ".join(ws))


def _hyp():
    from hypothesis import HealthCheck, given, settings

    def deco(fn):
        return settings(
            max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
        )(given(_texts)(fn))

    return deco


@_hyp()
def test_chunking_reconstruction_property(spark, text):
    """Dropping each chunk's overlap prefix (except the first) and
    concatenating reconstructs the tokenized document exactly — no token
    lost or duplicated at any window boundary."""
    chunk, overlap = 7, 3
    rows = (
        chunk_documents(
            _docs(spark, [(1, text)]), chunk_tokens=chunk, overlap_tokens=overlap
        )
        .orderBy("chunk_id")
        .collect()
    )
    toks = [w for w in text.split(" ") if w]
    rebuilt = []
    for i, r in enumerate(rows):
        ctoks = [w for w in r.chunk_text.split(" ") if w]
        assert r.n_tokens == len(ctoks)
        rebuilt.extend(ctoks if i == 0 else ctoks[overlap:])
    assert rebuilt == toks


@_hyp()
def test_repetition_signals_invariants(spark, text):
    """Counts are consistent: 0 ≤ top counts ≤ n; denominators follow from
    n_words; dup excess < n_trigrams unless zero."""
    r = repetition_signals(_docs(spark, [(1, text)])).collect()[0]
    n = len([w for w in text.split(" ") if w])
    assert r.n_words == n
    assert r.n_bigrams == max(n - 1, 0)
    assert r.n_trigrams == max(n - 2, 0)
    assert (n == 0) == (r.top_word_count == 0)
    assert r.top_word_count <= n and r.top_bigram_count <= r.n_bigrams
    assert 0 <= r.dup_trigram_excess <= max(r.n_trigrams - 1, 0)
    # mode count cross-check in plain Python
    toks = [w for w in text.split(" ") if w]
    expect_top = max((toks.count(w) for w in set(toks)), default=0)
    assert r.top_word_count == expect_top


def test_contamination_hits_semantics_and_broadcast(spark):
    from tsatool_app_spark.functions.corpus import contamination_hits

    train = _docs(
        spark,
        [
            (1, "a b c d e f g h i j"),      # contains bench gram a..h
            (2, "z z z z z z z z z"),        # no overlap
            (3, "x a b c d e f g h"),        # bench gram shifted: 2 windows hit? only a..h
            (4, "short doc"),                # < n words: never flagged
        ],
    )
    bench = _docs(spark, [(100, "a b c d e f g h")])
    out = {r.doc_id: r.n_hits for r in contamination_hits(train, bench, n=8).collect()}
    assert out == {1: 1, 3: 1}
    plan = contamination_hits(train, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_contamination_dedup_texts_matches_direct(spark):
    """The dedup_texts rep-indirection must be output-invisible: clone
    groups (incl. clones of a HIT text) get identical per-doc n_hits."""
    from tsatool_app_spark.functions.corpus import contamination_hits

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),   # clone of a hit text
        (5, "a b c d e f g h i j"),   # another clone
        (3, "z z z z z z z z z"),
        (4, "z z z z z z z z z"),     # clone of a miss text
        (6, "x a b c d e f g h"),
    ]
    train = _docs(spark, rows)
    bench = _docs(spark, [(100, "a b c d e f g h")])
    direct = {
        r.doc_id: r.n_hits
        for r in contamination_hits(train, bench, n=8, dedup_texts=False).collect()
    }
    fast = {
        r.doc_id: r.n_hits
        for r in contamination_hits(train, bench, n=8, dedup_texts=True).collect()
    }
    assert fast == direct == {1: 1, 2: 1, 5: 1, 6: 1}


def test_top_terms_partial_agg_before_exchange(spark):
    # the groupBy must combine map-side: partial_count before the exchange
    df = top_terms(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan


def test_pack_sequences_greedy(spark):
    from tsatool_app_spark.functions.corpus import pack_sequences

    # one shard (n_shards=1): docs of 100/100/100 tokens pack as
    # [0,0] [1] with budget 200; a 300-token doc overflows alone
    texts = [
        (1, " ".join(["w"] * 100)),
        (2, " ".join(["w"] * 100)),
        (3, " ".join(["w"] * 100)),
        (4, " ".join(["w"] * 300)),
        (5, " ".join(["w"] * 10)),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = {
        r.doc_id: (r.bin_id, r.n_tokens)
        for r in pack_sequences(df, budget=200, n_shards=1).collect()
    }
    assert out == {
        1: (0, 100),
        2: (0, 100),
        3: (1, 100),   # 100+100+100 > 200 → new bin
        4: (2, 300),   # over-budget doc gets its own bin
        5: (3, 10),    # 300+10 > 200 → next bin
    }


def test_pack_sequences_null_token_counts_coalesce(spark):
    """r11 ADVICE: a NULL in a user-supplied token_count_col must not
    poison the fill accumulator (fill + NaN > budget is always False,
    collapsing every later doc in the shard into one bin) — NULLs
    coalesce to 0 and packing proceeds exactly as if absent."""
    from tsatool_app_spark.functions.corpus import pack_sequences

    df = spark.createDataFrame(
        [(1, 100), (2, None), (3, 150), (4, 150)],
        "doc_id long, nt int",
    )
    out = {
        r.doc_id: (r.bin_id, r.n_tokens)
        for r in pack_sequences(
            df, budget=200, n_shards=1, token_count_col="nt"
        ).collect()
    }
    # 100 + 0 fit bin 0; 150 opens bin 1; 150+150 > 200 → bin 2
    assert out == {1: (0, 100), 2: (0, 0), 3: (1, 150), 4: (2, 150)}


def test_pack_sequences_sharded_no_text_shuffle(spark):
    from tsatool_app_spark.functions.corpus import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["tok"] * (i % 7 + 1))) for i in range(40)],
        "doc_id long, text string",
    )
    out = pack_sequences(df, budget=10, n_shards=4)
    rows = out.collect()
    assert len(rows) == 40
    # every doc's shard is id % 4 and bins never overflow except lone docs
    assert all(r.shard == r.doc_id % 4 for r in rows)
    # token counts are computed JVM-side BELOW the shard exchange, so the
    # pandas scan's input schema (the FlatMapGroupsInPandas node) carries
    # (doc_id, shard, n_tokens) ints only — never the text column
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints the plan twice
    fmg = [l for l in plan.splitlines() if "FlatMapGroupsInPandas" in l]
    assert fmg and all("text#" not in l for l in fmg)
    assert len(re.findall(r"Exchange hashpartitioning\(shard", plan)) == 1


def test_drop_duplicate_chunks_removes_boilerplate(spark):
    """A license block repeated across documents survives only in the
    first document carrying it; unique content is untouched; a pure
    duplicate document vanishes."""
    from tsatool_app_spark.functions.corpus import drop_duplicate_chunks

    legal = " ".join(f"legal{i}" for i in range(32))     # exactly one chunk
    a = " ".join(f"alpha{i}" for i in range(32))
    b = " ".join(f"beta{i}" for i in range(32))
    docs = spark.createDataFrame(
        [
            (1, legal + " " + a),     # first carrier keeps the block
            (2, legal + " " + b),     # later carrier loses it
            (3, legal),               # pure duplicate → vanishes
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text, r.n_tokens)
           for r in drop_duplicate_chunks(docs, chunk_tokens=32).collect()}
    assert out[1] == (legal + " " + a, 64)
    assert out[2] == (b, 32)
    assert 3 not in out


def _pipeline_stage() -> str:
    """The pretraining_mix stage whose code called the running action:
    the clean survivors' checkpoint, the near-dup components, or (any
    other caller) the output action, which runs decon, mix and packing
    as one plan."""
    import sys

    f = sys._getframe(2)
    while f is not None:
        path, fn = f.f_code.co_filename, f.f_code.co_name
        if path.endswith("functions/dedup.py"):
            return "near-dup"
        if path.endswith("functions/corpus.py") and fn == "pretraining_mix":
            return "clean"
        f = f.f_back
    return "decon+mix"


def _jobs_by_description(sc, group: str) -> dict[str, int]:
    """Job counts of ``group`` per job description, from Spark's status
    store (job events are delivered asynchronously)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    counts: dict[str, int] = {}
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            d = job.description().get() if job.description().isDefined() else ""
            counts[d] = counts.get(d, 0) + 1
    return counts


def test_pretraining_mix_seams(spark, monkeypatch):
    """r9 (VERDICT r8 ask #7): the composed pipeline drops each planted
    document at exactly the stage built to catch it, carries the
    id/schema contract between stages, and stays at its job census."""
    from tsatool_app_spark.functions.corpus import pretraining_mix

    # a base corpus of good-quality english docs in two sources; bodies
    # are per-doc distinct token streams so the docs are NOT near-dups
    # of one another (only the planted clones are)
    rows = []
    for i in range(12):
        body = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append(
            (
                i,
                f"the document {i} says {body} and then a tidy end. "
                "the closing line keeps a period.",
                "srcA" if i % 2 == 0 else "srcB",
            )
        )
    bench_text = (
        "benchmarks carry the holdout answer keys and the exact wording "
        "of every evaluation question in a long and very specific order "
        "that training text must never contain verbatim at all."
    )
    clone = rows[0][1]                       # exact dup of doc 0
    near = rows[2][1] + "!"                  # J ~ 0.99 near-dup of doc 2
    contaminated = (
        "a fresh preface sentence for padding. " + bench_text + " a tail."
    )
    rows += [
        (100, clone, "srcA"),
        (101, near, "srcA"),
        (102, contaminated, "srcA"),
    ]
    docs = spark.createDataFrame(
        [(i, t, s, len(t)) for i, t, s in rows],
        "doc_id long, text string, source string, n_chars long",
    )
    bench = spark.createDataFrame(
        [(1000, bench_text)], "doc_id long, text string"
    )
    sc = spark.sparkContext
    cls = type(docs)
    for name in ("collect", "localCheckpoint", "toArrow"):
        action = getattr(cls, name)

        def tagged(self, *args, _action=action, **kwargs):
            sc.setJobDescription(_pipeline_stage())
            try:
                return _action(self, *args, **kwargs)
            finally:
                sc.setJobDescription(None)

        monkeypatch.setattr(cls, name, tagged)
    sc.setJobGroup("pretraining-mix-seams", "pretraining-mix-seams")
    try:
        out = pretraining_mix(
            docs, bench, {"srcA": 10_000, "srcB": 10_000}, n_shards=2
        )
        got = {r.doc_id: r for r in out.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()
    # The job census, about one job per exchange under AQE: clean is the
    # md5 window; near-dup the MinHash, banding and verify exchanges plus
    # the bounded edge collect; the output action runs the decon key
    # distinct, the hit-id distinct, the loser, hit and rate broadcasts,
    # the source totals and the packing exchange.  The pipeline ran 35
    # jobs before the near-dup graph was settled on the driver.
    census = _jobs_by_description(sc, "pretraining-mix-seams")
    bounds = {"clean": 1, "near-dup": 8, "decon+mix": 11}
    assert set(census) == set(bounds), census
    assert all(census[k] <= n for k, n in bounds.items()), census
    assert sum(census.values()) <= 20, census
    assert 100 not in got  # exact clone: min-id survivor is doc 0
    assert 101 not in got  # near-dup cluster: min-id survivor is doc 2
    assert 102 not in got  # contaminated: n-gram and span filters
    assert 0 in got and 2 in got  # the survivors their clones lost to
    assert set(got) == set(range(12))
    r0 = got[0]
    assert r0.source == "srcA" and r0.rate_q == 10_000  # loose budget
    assert r0.shard == 0 and r0.n_tokens > 0
    # binding budget: rate_q < 10000 and only the low-bucket srcB docs
    # survive (md5 buckets for ids 1,3,5,7,9,11 are 378, 619, 8586,
    # 6628, 7860, 5874 — a ~10% budget keeps exactly {1, 3})
    tight = pretraining_mix(
        docs, bench, {"srcA": 10_000, "srcB": 140}, n_shards=2
    ).collect()
    b_rows = [r for r in tight if r.source == "srcB"]
    assert {r.doc_id for r in b_rows} == {1, 3}
    assert all(r.rate_q < 10_000 for r in b_rows)


def test_pretraining_mix_arrow_runs_each_pandas_stage_once(spark, monkeypatch, tmp_path):
    """One collect of ``pretraining_mix(impl="arrow")`` over the registry's
    sf0.01 corpus runs each pandas stage in exactly one Spark stage: the
    benchmark's and the training corpus's decon scans (``mapInPandas``)
    and the packing (``applyInPandas``).  Neither the near-dup survivors
    nor the decon frame is checkpointed, so a plan that evaluated either
    twice would show here as a second stage of its scan."""
    import os

    from pyspark import TaskContext
    from pyspark.sql.group import GroupedData

    from tsatool_app_spark.functions.corpus import pretraining_mix
    from tsatool_app_spark.plans.driver_queries import _pretrain_corpus

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    log = str(tmp_path / "stages.log")
    made = []

    def counted(kind, fn):
        label = f"{kind}{len(made)}"
        made.append(label)

        def run(arg):  # one argument: applyInPandas checks the arity
            tc = TaskContext.get()
            with open(log, "a") as f:
                f.write(f"{label} {tc.stageId()}\n")
            return fn(arg)

        return run

    frame_cls = type(spark.range(0))
    map_in, apply_in = frame_cls.mapInPandas, GroupedData.applyInPandas
    monkeypatch.setattr(frame_cls, "mapInPandas", lambda self, fn, schema, **kw: map_in(
        self, counted("map", fn), schema, **kw))
    monkeypatch.setattr(GroupedData, "applyInPandas", lambda self, fn, schema: apply_in(
        self, counted("apply", fn), schema))
    corpus, bench = _pretrain_corpus(spark, sf_dir)
    rows = pretraining_mix(
        corpus, bench, {"src0": 2_000, "src10": 50_000}, n_shards=4, impl="arrow"
    ).collect()
    monkeypatch.undo()
    assert rows
    # built in this order: the benchmark scan, the training scan, the packing
    assert made == ["map0", "map1", "apply2"]
    stages: dict[str, set[str]] = {}
    with open(log) as f:
        for line in f:
            label, stage = line.split()
            stages.setdefault(label, set()).add(stage)
    assert {k: len(v) for k, v in stages.items()} == {"map0": 1, "map1": 1, "apply2": 1}, stages


def test_pretraining_mix_excise(spark):
    """decon="excise" (r9): span-contaminated docs SURVIVE with the
    detected windows spliced out and the mixture/packing token counts
    recomputed over the remainder; n-gram hits still drop the whole doc;
    clean docs pass through untouched; the default mode is unchanged."""
    import pytest

    from tsatool_app_spark.functions.corpus import pretraining_mix

    rows = []
    for i in range(8):
        body = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append(
            (
                i,
                f"the document {i} says {body} and then a tidy end. "
                "the closing line keeps a period.",
                "srcA",
            )
        )
    bench_text = (
        "benchmarks carry the holdout answer keys and the exact wording "
        "of every evaluation question in a long and very specific order "
        "that training text must never contain verbatim at all."
    )
    # doc 102: embeds >= 8 consecutive bench words -> word-8-gram hit ->
    # dropped in BOTH modes (no span localization for word grams).
    ngram_doc = "a fresh preface sentence for padding. " + bench_text + " a tail."
    # doc 103: embeds bench_text[20:62] — 7 words (no shared 8-gram) that
    # carry the md5-SELECTED 40-char window at bench offset 22, so the
    # span detector fires; excise mode keeps the doc minus that window.
    span_slice = bench_text[20:62]
    assert len(span_slice.split()) == 7
    span_doc = (
        "the document onezerothree opens with its own words then quotes"
        + span_slice
        + " and then a tidy end. the closing line keeps a period."
    )
    rows += [(102, ngram_doc, "srcA"), (103, span_doc, "srcA")]
    docs = spark.createDataFrame(
        [(i, t, s, len(t)) for i, t, s in rows],
        "doc_id long, text string, source string, n_chars long",
    )
    bench = spark.createDataFrame(
        [(1000, bench_text)], "doc_id long, text string"
    )
    kwargs = dict(budgets={"srcA": 10_000}, n_shards=2)
    dropped = {
        r.doc_id: r
        for r in pretraining_mix(docs, bench, **kwargs).collect()
    }
    excised = {
        r.doc_id: r
        for r in pretraining_mix(
            docs, bench, decon="excise", **kwargs
        ).collect()
    }
    assert 102 not in dropped and 102 not in excised  # ngram: both modes
    assert 103 not in dropped                         # drop mode: whole doc
    assert 103 in excised                             # excise mode: remainder
    # the remainder lost the detected window but kept the doc's own words
    orig_tokens = len(span_doc.split())
    assert 0 < excised[103].n_tokens < orig_tokens
    # clean docs are untouched and identical across modes
    for i in range(8):
        assert excised[i].n_tokens == dropped[i].n_tokens == len(
            rows[i][1].split()
        )
    with pytest.raises(ValueError, match="decon"):
        pretraining_mix(docs, bench, decon="shred", **kwargs)


def test_dedup_lines_within_doc(spark):
    """Within-doc line dedup keeps each line's FIRST occurrence in
    order, exempts short lines, passes repeat-free docs byte-identical,
    and counts originals/drops exactly."""
    from tsatool_app_spark.functions.corpus import dedup_lines_within_doc

    banner = "accept our cookies to continue reading this site"
    docs = spark.createDataFrame(
        [
            # banner pasted 3x, interleaved; "-" repeats but is exempt
            (1, "\n".join([banner, "real paragraph one", "-", banner,
                           "real paragraph two", "-", banner])),
            (2, "no repeats here\njust two lines"),
            (3, "solo"),
            # trailing empty lines: split keeps them; "" repeats but is
            # exempt under min_chars
            (4, "a line\n\na line\n"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_lines_within_doc(docs, min_chars=2).collect()
    }
    assert out[1].clean_text == "\n".join(
        [banner, "real paragraph one", "-", "real paragraph two", "-"]
    )
    assert (out[1].n_lines, out[1].n_lines_dropped) == (7, 2)
    assert out[2].clean_text == "no repeats here\njust two lines"
    assert (out[2].n_lines, out[2].n_lines_dropped) == (2, 0)
    assert out[3].clean_text == "solo" and out[3].n_lines_dropped == 0
    # doc 4: "a line" repeats (dropped once); both "" lines exempt-kept
    assert out[4].clean_text == "a line\n\n"
    assert (out[4].n_lines, out[4].n_lines_dropped) == (4, 1)
    # min_chars=0: nothing exempt — the "-" and "" repeats now collapse
    strict = {
        r.doc_id: r for r in dedup_lines_within_doc(docs).collect()
    }
    assert strict[1].clean_text == "\n".join(
        [banner, "real paragraph one", "-", "real paragraph two"]
    )
    assert strict[4].clean_text == "a line\n"
    assert (strict[4].n_lines, strict[4].n_lines_dropped) == (4, 2)


def test_dedup_lines_null_text_passthrough(spark):
    """One output row per input document, unconditionally: NULL-text
    docs must not vanish through the rebuild join — they pass through
    with NULL clean_text and NULL counts."""
    from tsatool_app_spark.functions.corpus import dedup_lines_within_doc

    docs = spark.createDataFrame(
        [(1, "a\nb\na"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines_within_doc(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].clean_text == "a\nb"
    assert out[2].clean_text is None
    assert out[2].n_lines is None and out[2].n_lines_dropped is None
    # empty text is ONE empty line, kept
    assert out[3].clean_text == ""
    assert (out[3].n_lines, out[3].n_lines_dropped) == (1, 0)


def test_pretraining_mix_excise_real_token_col(spark):
    """decon="excise" with a REAL tokenizer-count column: the mixture
    supply must stay in token units — untouched docs keep their count
    EXACTLY, the excised doc's count is rescaled by len(clean)/len(orig)
    — not silently replaced by character counts (~6x unit shift)."""
    from tsatool_app_spark.functions.corpus import pretraining_mix
    from tsatool_app_spark.functions.spans import excise_spans

    rows = []
    for i in range(8):
        body = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append(
            (
                i,
                f"the document {i} says {body} and then a tidy end. "
                "the closing line keeps a period.",
                "srcA",
            )
        )
    bench_text = (
        "benchmarks carry the holdout answer keys and the exact wording "
        "of every evaluation question in a long and very specific order "
        "that training text must never contain verbatim at all."
    )
    span_slice = bench_text[20:62]
    span_doc = (
        "the document onezerothree opens with its own words then quotes"
        + span_slice
        + " and then a tidy end. the closing line keeps a period."
    )
    rows.append((103, span_doc, "srcA"))
    docs = spark.createDataFrame(
        [(i, t, s, len(t), len(t.split())) for i, t, s in rows],
        "doc_id long, text string, source string, n_chars long, n_tokens long",
    )
    bench = spark.createDataFrame(
        [(1000, bench_text)], "doc_id long, text string"
    )
    # expected supply: untouched docs contribute n_tokens exactly; the
    # excised doc contributes round(tok0 * len_clean / len0)
    clean_len = {
        r.doc_id: len(r.clean_text)
        for r in excise_spans(docs, bench, window_len=40).collect()
    }
    supply = 0
    for i, t, s in rows:
        tok0, len0 = len(t.split()), len(t)
        supply += (tok0 * clean_len[i] + len0 // 2) // len0
    budget = supply * 9 // 10  # force rate_q < 10000 so units matter
    out = pretraining_mix(
        docs, bench, {"srcA": budget}, decon="excise", token_col="n_tokens",
        n_shards=2,
    ).collect()
    assert out, "budget at 90 % of supply must keep most docs"
    expected_rate_q = budget * 10_000 // supply
    char_supply = sum(clean_len[i] for i, _, _ in rows)
    assert expected_rate_q != budget * 10_000 // char_supply  # test bites
    assert {r.rate_q for r in out} == {expected_rate_q}


def test_decon_probe_matches_standalone(spark):
    """The fused single-scan probe must reproduce the standalone
    operators' hit sets exactly: ng ids == contamination_hits's ids,
    span rows == span_fingerprints X bench fps — for BOTH impls,
    multibyte text included."""
    from tsatool_app_spark.functions.corpus import (
        contamination_hits, decon_probe,
    )
    from tsatool_app_spark.functions.spans import (
        span_doc_fingerprints, span_fingerprints,
    )

    bench_text = (
        "benchmarks carry the holdout answer keys and the exact wording "
        "of every evaluation question in a long and very specific order "
        "that training text must never contain verbatim at all."
    )
    docs = spark.createDataFrame(
        [
            (1, "plain document with its own words " * 4),
            (2, "prefix words then " + bench_text + " suffix"),        # both probes
            (3, "carries only" + bench_text[20:62] + "span slice"),    # span only
            (4, "päätös ääkkösiä " + bench_text[20:62] + " ja häntä"), # multibyte
            (5, None),
            (6, "short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    expected_ng = {
        r.doc_id for r in contamination_hits(docs, bench, n=8).collect()
    }
    bench_fps = span_doc_fingerprints(bench).select("fp").distinct()
    expected_sp = {
        (r.doc_id, r.pos, r.fp)
        for r in span_fingerprints(docs).join(bench_fps, "fp").collect()
    }
    assert expected_ng and expected_sp  # the test must bite

    for impl in ("sql", "arrow"):
        ng, sp = decon_probe(docs, bench, impl=impl)
        assert {r.doc_id for r in ng.collect()} == expected_ng, impl
        assert {
            (r.doc_id, r.pos, r.fp) for r in sp.collect()
        } == expected_sp, impl
