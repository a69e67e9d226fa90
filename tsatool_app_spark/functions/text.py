"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all pure
``pyspark.sql.functions`` Column expressions (JVM-side, whole-stage codegen;
no Python UDFs in the hot path), so a 100 TB documents table processes at
scan speed.

Every stat here is built from engine-portable primitives (length / replace /
substring arithmetic) so the DuckDB oracle can mirror the exact semantics —
see plans/driver_queries.py for the paired SQL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sql_name(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(value: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _count_sql(expr: str, needle: str) -> str:
    """SQL text of the occurrences of ``needle`` in the string SQL
    expression ``expr``, via length arithmetic — portable to any SQL
    engine, no regex dialect differences."""
    if not needle:
        raise ValueError("needle must be non-empty")
    return (
        f"CAST((length({expr}) - length(replace({expr}, {_sql_str(needle)}, '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def _count_occurrences(text_col: str, needle: str) -> Column:
    """Occurrences of ``needle`` in column ``text_col`` (:func:`_count_sql`).

    This module's Column expressions are built as SQL text: one py4j
    round trip per expression where Column API calls make one per
    node (a marker count is five), and the composed corpus pipelines
    build dozens of them per call."""
    return F.expr(_count_sql(_sql_name(text_col), needle))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document surface statistics (token/char/punctuation counts).

    Token counting uses the whitespace heuristic (space-count + 1) so the
    result is exact and portable; a BPE-ish regex token count is provided
    separately by :func:`token_count_bpe_ish`.
    """
    t = F.col(text_col)
    n_spaces = _count_occurrences(text_col, " ")
    return docs.select(
        "doc_id",
        F.length(t).alias("len_chars"),
        (n_spaces + 1).alias("n_tokens_ws"),
        _count_occurrences(text_col, ".").alias("n_periods"),
        _count_occurrences(text_col, ",").alias("n_commas"),
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))).alias("n_space_chars"),
    )


def token_count_bpe_ish(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Approximate BPE token count: words + punctuation splits.

    A whitespace+punctuation regex split approximates byte-pair-encoding
    token counts well enough for corpus sizing (the usual ~4 chars/token
    heuristic); stays JVM-side via split/size."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(t), r"\s+|(?=[.,!?;:])")).alias("n_tokens_bpe_ish"),
    )


#: Marker substrings per language for the n-gram/stopword heuristic.
#: Space-padded so they match whole words mid-sentence.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " is ", " of "),
    "de": (" der ", " die ", " und ", " ist "),
    "fr": (" le ", " la ", " et ", " est "),
    "es": (" el ", " que ", " y ", " es "),
}


def _lang_scores_sql(t: str) -> dict[str, str]:
    padded = f"concat(' ', lower({t}), ' ')"
    return {
        lang: "(" + " + ".join(["0"] + [_count_sql(padded, m) for m in markers]) + ")"
        for lang, markers in _LANG_MARKERS.items()
    }


def lang_pred_col(text_col: str) -> Column:
    """Predicted-language Column expression over column ``text_col`` (the
    body of :func:`lang_id_heuristic`, reusable inside wider single-scan
    pipelines like corpus.clean_corpus), built as SQL text.

    Each marker-score sum appears exactly once in the expression tree.
    (The r2 shape — greatest(...) plus a when-chain re-comparing each
    score — inlined every sum ~5x after Catalyst's project collapsing,
    and was the main contributor to blowing generated code past the
    JVM's 64 KB method cap in composed pipelines.)  Priority runs
    DESCENDING in marker-dict order so score ties break toward the
    earlier language, matching the original when-chain and the oracle."""
    t = _sql_name(text_col)
    scores = _lang_scores_sql(t)
    n = len(scores)
    # The lexicographic (score, priority) argmax is PACKED into one
    # BIGINT per language — score·8 + prio, prio < 8 — and taken with
    # ``greatest``; 'und' rides in as the constant ``n + 1`` (score 0,
    # priority above every real language, so it wins exactly when all
    # scores are 0).  The r4–r11 form built (s, prio, l) structs and
    # array_max'd them: struct construction + the interpreted struct
    # ORDERING inside array_max cost ~30 µs/row even inside a codegen
    # stage — measured r12 at sf10 (500k docs): the bare lang filter ran
    # 19.4 s with struct array_max vs ~4 s as packed greatest, with the
    # 16 marker counts themselves only ~3.6 s of that (SCALING.md r12).
    # NULL text → NULL scores → greatest skips NULLs → 'und' (the old
    # struct form decayed to 'en' on NULL; no tier carries NULL text and
    # no oracle pins it — 'und' is the sane edge).
    packed = [f"{score} * 8 + {n - i}" for i, score in enumerate(scores.values())]
    best = f"greatest({', '.join(packed)}, CAST({n + 1} AS BIGINT))"
    # prio → language lookup (1-indexed): prio i+1 is the (n-1-i)-th
    # marker-dict language; prio n+1 is 'und'
    lookup = ", ".join(_sql_str(lang) for lang in [*reversed(scores), "und"])
    # non-ASCII ratio: chars whose codepoint > 127 (CJK detection); the
    # CJK check runs first (no ASCII stopwords)
    ascii_re = _sql_str(r"[\x00-\x7F]")
    nonascii_ratio = (
        f"length(regexp_replace({t}, {ascii_re}, ''))"
        f" / greatest(length({t}), 1)"
    )
    return F.expr(
        f"CASE WHEN {nonascii_ratio} > 0.3D THEN 'zh'"
        f" ELSE element_at(array({lookup}), CAST(pmod({best}, 8) AS INT)) END"
    )


def lang_id_heuristic(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID via stopword-marker counting + non-ASCII ratio.

    Pure Column arithmetic (no UDF): counts whole-word marker hits per
    language; a high non-ASCII character ratio short-circuits to 'zh'
    (CJK text has essentially no ASCII stopwords). Returns (doc_id,
    lang_pred). Accuracy against the testdata ``lang`` ground-truth column is
    asserted in tests."""
    return docs.select("doc_id", lang_pred_col(text_col).alias("lang_pred"))


def quality_col(text_col: str) -> Column:
    """Quality-score Column expression over column ``text_col`` (the body
    of :func:`quality_score`, reusable inside wider single-scan
    pipelines), built as SQL text."""
    t = _sql_name(text_col)
    n_chars = f"length({t})"
    n_spaces = _count_sql(t, " ")
    avg_token_len = f"({n_chars} / ({n_spaces} + 1))"
    space_ratio = f"({n_spaces} / greatest({n_chars}, 1))"
    length_ok = f"{n_chars} >= 50 AND {n_chars} <= 20000"
    has_sentence_end = f"{_count_sql(t, '.')} > 0"
    token_len_ok = f"{avg_token_len} >= 2.0D AND {avg_token_len} <= 12.0D"
    space_ok = f"{space_ratio} >= 0.05D AND {space_ratio} <= 0.35D"
    score = " + ".join(
        f"CAST(({test}) AS INT) * {weight}"
        for test, weight in (
            (length_ok, "0.4D"),
            (has_sentence_end, "0.2D"),
            (token_len_ok, "0.2D"),
            (space_ok, "0.2D"),
        )
    )
    return F.expr(f"CAST({score} AS DOUBLE)")


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0, 1] from surface statistics:
    length band, punctuation presence, word-length sanity, space ratio.
    All Column arithmetic; deterministic."""
    return docs.select("doc_id", quality_col(text_col).alias("quality"))


def doc_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit content fingerprint (xxhash64 of normalized text) — the cheap
    exact-dup key: lowercase, collapse whitespace, hash. One narrow scan."""
    t = F.col(text_col)
    normalized = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.xxhash64(normalized).alias("fingerprint"),
        F.md5(normalized).alias("fingerprint_md5"),
    )


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode canonicalization for corpus cleaning: collapse whitespace
    runs JVM-side, then NFC-compose via a vectorized pandas UDF
    (``Series.str.normalize`` — Python's unicodedata is the reference NFC
    implementation; Spark has no JVM builtin for it).

    The whitespace pass stays in whole-stage codegen; only the (rare in
    ASCII-heavy corpora, but correctness-critical) NFC pass crosses to
    Arrow. At 100 TB this is a narrow per-row map — no shuffle, scan
    speed, and the UDF batch size is Arrow-default (10k rows) which is
    right for short text columns.
    """
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    _nfc = pandas_udf(_nfc_fn, "string")

    ws_collapsed = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return docs.withColumn(text_col, _nfc(ws_collapsed))


#: Markup-stripping patterns, deliberately inside the java.util.regex ∩ RE2
#: subset so identical strings drive the DuckDB oracle (redact_pii rule).
_MARKUP_TAG_RE = r"<[^>]+>"
_MARKUP_ENTITIES = (
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
)


def strip_markup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Markup removal for scraped corpora: drop HTML/XML tags, decode the
    six ubiquitous named entities, collapse the whitespace the removals
    leave behind.  Pure JVM regexp/replace chain — scan speed, no UDF.
    (A browser-grade HTML parser is out of scope by design: corpus
    pipelines strip tags lexically; documents needing DOM-aware
    extraction go through the multimodal binary path.)"""
    t = F.regexp_replace(F.col(text_col), _MARKUP_TAG_RE, " ")
    for ent, ch in _MARKUP_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return docs.withColumn(text_col, t)
