"""Text analysis operators for training-data pipelines: tokenization,
quality scoring, language ID, document fingerprinting.

All pure JVM-side column expressions (whole-stage codegen, no UDFs), and all
arithmetic is integer-count-based with at most one final division — so a SQL
oracle (DuckDB) reproduces values bit-for-bit.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops.util import spread_small_input, track_persist

# Word tokens: lowercase alnum runs. Kept regex-dialect-neutral (identical
# semantics in Java regex and DuckDB's RE2).
WORD_RE = "[a-z0-9]+"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum symbol.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

# Small stopword sets for the n-gram/stopword language-ID heuristic.
LANG_STOPWORDS: Dict[str, Sequence[str]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "un"),
    "fr": ("le", "la", "les", "et", "des", "un", "une", "est"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "不"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens_col(text: Column, pattern: str = WORD_RE) -> Column:
    """Array of word tokens (lowercased)."""
    return F.regexp_extract_all(F.lower(text), F.lit(pattern), F.lit(0))


def _tokens(text_col: str, pattern: str = WORD_RE) -> Column:
    return tokens_col(F.col(text_col), pattern)


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal (backslashes and quotes escaped
    for Spark's unescapeSQLString)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _tokens_sql(text_col: str, pattern: str = WORD_RE) -> str:
    """SQL text of :func:`_tokens` (identical expression, parsed
    JVM-side — the py4j-chatter-free construction path)."""
    return (
        f"regexp_extract_all(lower(`{text_col}`), {_sql_str(pattern)}, 0)"
    )


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    stopwords: Sequence[str] = EN_STOPWORDS,
) -> DataFrame:
    """Per-document quality metrics.

    Columns: n_chars_actual, n_tokens (word tokens), n_bpe_tokens (BPE-ish
    pre-tokenizer count), n_punct, n_stopwords, avg_token_len,
    stopword_ratio, punct_ratio, quality_score ∈ [0,1].

    quality_score = (2*stopword_hits + alpha_tokens) / (3*n_tokens): a
    crude length/stopword composite — high when text has natural-language
    function-word density (what a pretraining quality filter gates on).
    Exactly one integer/integer division per ratio → oracle-exact.
    """
    df = spread_small_input(df)

    # All counters computed ONCE inside a single-element transform lambda
    # (the bind-once idiom, see ops.dedup.shingle_array): referencing the
    # tokens expression from several output columns re-evaluates the
    # regex tokenization per column (fresh lambda-variable ids defeat
    # Catalyst subexpression elimination — the r15-pre plan ran
    # regexp_extract_all 15× per row), and GetStructField pushdown
    # dissolves a plain struct, so the bind must be opaque to
    # SimplifyExtractValueOps. The outer select only does integer/double
    # arithmetic on the extracted counters. Built as ONE SQL string (r15):
    # the Python-lambda Column composition of the filter/aggregate HOFs
    # cost ~0.3 s of py4j round-trips per call; the textually identical
    # expression parses JVM-side in one call.
    sw_sql = "array(" + ", ".join(_sql_str(s) for s in stopwords) + ")"
    punct_re_sql = _sql_str("[^a-zA-Z0-9\\s]")
    counters_sql = (
        "named_struct("
        f"'nc', CAST(length(`{text_col}`) AS BIGINT), "
        "'nt', CAST(size(tk) AS BIGINT), "
        f"'nbpe', CAST(size(regexp_extract_all(`{text_col}`, "
        f"{_sql_str(BPE_RE)}, 0)) AS BIGINT), "
        f"'npunct', CAST(size(regexp_extract_all(`{text_col}`, "
        f"{punct_re_sql}, 0)) AS BIGINT), "
        f"'nstop', CAST(size(filter(tk, t -> array_contains({sw_sql}, t)))"
        " AS BIGINT), "
        "'nalpha', CAST(size(filter(tk, t -> t RLIKE '^[a-z]+$'))"
        " AS BIGINT), "
        "'tokchars', aggregate(tk, CAST(0 AS BIGINT), "
        "(acc, t) -> acc + length(t)))"
    )
    bound = df.select(
        *id_cols,
        F.expr(
            f"element_at(transform(array({_tokens_sql(text_col)}), "
            f"tk -> {counters_sql}), 1)"
        ).alias("__s"),
    )
    s = F.col("__s")
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )
    return bound.select(
        *id_cols,
        s["nc"].alias("n_chars_actual"),
        s["nt"].alias("n_tokens"),
        s["nbpe"].alias("n_bpe_tokens"),
        s["npunct"].alias("n_punct"),
        s["nstop"].alias("n_stopwords"),
        safe(s["tokchars"], s["nt"]).alias("avg_token_len"),
        safe(s["nstop"], s["nt"]).alias("stopword_ratio"),
        safe(s["npunct"], s["nc"]).alias("punct_ratio"),
        safe(2 * s["nstop"] + s["nalpha"], 3 * s["nt"]).alias("quality_score"),
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    stopword_sets: Dict[str, Sequence[str]] = LANG_STOPWORDS,
) -> DataFrame:
    """Stopword-vote language ID: count token hits per language's stopword
    set; predict the argmax (ties broken alphabetically by language code —
    deterministic). Emits per-language vote counts + ``lang_pred``.

    Per-language token membership uses ``isin`` (compiles to a hash-set
    InSet lookup) rather than ``array_contains`` over a literal array (a
    linear scan per token per language) — measured ~12% faster on the
    sf0.1 corpus; a single-pass map+zip_with accumulator variant was
    measured SLOWER (per-token array allocation dominates), see NOTES.

    Tokenization and every vote are computed ONCE per row through the
    two-level bind-once idiom (tokens bound first, then the vote array):
    the r15-pre plan inlined the tokenize+filter chain into every node of
    the argmax when-chain — 47 regexp_extract_all evaluations per row —
    because each inlined copy gets fresh lambda-variable ids that defeat
    Catalyst subexpression elimination. The argmax itself becomes
    ``element_at(langs, array_position(v, array_max(v)))``: ties take the
    first (alphabetically smallest) language, exactly the old chain's
    strictly-greater tie-break."""
    df = spread_small_input(df)
    langs = sorted(stopword_sets)

    # Same two-level bind-once structure as before, rendered as ONE SQL
    # string (r15): the Python-lambda filter per language plus the nested
    # transform binds cost ~0.5 s of py4j round-trips per call; the
    # textually identical expression parses JVM-side in one call.
    def hits_sql(words: Sequence[str]) -> str:
        in_list = ", ".join(_sql_str(w) for w in words)
        return f"CAST(size(filter(tk, t -> t IN ({in_list}))) AS BIGINT)"

    lang_lits_sql = "array(" + ", ".join(_sql_str(la) for la in langs) + ")"
    votes_sql = "array(" + ", ".join(
        hits_sql(stopword_sets[lang]) for lang in langs
    ) + ")"
    # NULL text → NULL prediction (votes are already null); the guard
    # also keeps element_at from seeing position 0. Lazy CASE evaluation
    # means the argmax only runs on non-null text, where every vote is a
    # non-null count and a max exists.
    pred_sql = (
        f"CASE WHEN `{text_col}` IS NOT NULL THEN element_at("
        f"{lang_lits_sql}, CAST(array_position(v, array_max(v)) AS INT)) END"
    )
    struct_sql = "named_struct(" + ", ".join(
        f"'votes_{lang}', v[{i}]" for i, lang in enumerate(langs)
    ) + f", 'lang_pred', {pred_sql})"
    bound = df.select(
        *id_cols,
        F.expr(
            f"element_at(transform(array({_tokens_sql(text_col)}), tk -> "
            f"element_at(transform(array({votes_sql}), v -> {struct_sql})"
            ", 1)), 1)"
        ).alias("__s"),
    )
    return bound.select(
        *id_cols,
        *[F.col("__s")[f"votes_{lang}"].alias(f"votes_{lang}") for lang in langs],
        F.col("__s")["lang_pred"].alias("lang_pred"),
    )


def ngram_all_col(text: Column, n: int) -> Column:
    """ALL word n-grams (space-joined), duplicates preserved — unlike
    ``ops.dedup.shingle_array`` which dedups for set semantics. Repetition
    metrics need the multiplicities.

    Token array bound through a single-element ``transform`` lambda so the
    regex tokenization runs once per row, not once per gram (see
    ``ops.dedup.shingle_array``)."""
    toks = tokens_col(text)

    def grams_of(tk: Column) -> Column:
        starts = F.when(
            F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))

    return F.element_at(F.transform(F.array(toks), grams_of), 1)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    ngram_ns: Sequence[int] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1): the
    filters a pretraining pipeline uses to drop boilerplate/spam docs.

    - ``dup_line_frac``: (lines − distinct lines) / lines;
    - ``dup_line_char_frac``: chars in repeated line occurrences / line
      chars (first occurrence of each line not counted);
    - ``top{n}gram_char_frac`` per n in ``ngram_ns``: max over repeated
      n-grams of occurrences×gram_length, / total text chars; 0.0 when no
      n-gram repeats. (Deterministic without a tie-break rule: the
      *product* is maximized directly, not "chars of the most frequent
      gram".)

    Scale: one explode + two-level groupBy per signal family (map-side
    partial aggs, no windows); everything joins back on the doc id. All
    counts integer; one division per emitted fraction → oracle-exact.
    """
    base = _maybe_persist(
        spread_small_input(df).select(
            *id_cols, F.col(text_col).alias("__text")
        )
    )
    key = list(id_cols)
    n_chars_df = base.select(
        *key, F.length("__text").cast("long").alias("__nc")
    )

    lines = base.select(*key, F.explode(F.split(F.col("__text"), "\n")).alias("__ln"))
    per_line = lines.groupBy(*key, "__ln").agg(F.count(F.lit(1)).alias("__c"))
    line_stats = per_line.groupBy(*key).agg(
        F.sum("__c").alias("__n_lines"),
        F.count(F.lit(1)).alias("__n_distinct"),
        F.sum(F.length("__ln") * F.col("__c")).alias("__line_chars"),
        F.sum(F.length("__ln")).alias("__distinct_chars"),
    )

    out = n_chars_df.join(line_stats, key, "left")
    safe = lambda num, den: F.when(
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    out = out.select(
        *key,
        "__nc",
        safe(
            F.col("__n_lines") - F.col("__n_distinct"), F.col("__n_lines")
        ).alias("dup_line_frac"),
        safe(
            F.col("__line_chars") - F.col("__distinct_chars"),
            F.col("__line_chars"),
        ).alias("dup_line_char_frac"),
    )

    for n in ngram_ns:
        grams = base.select(
            *key, F.explode(ngram_all_col(F.col("__text"), n)).alias("__g")
        )
        per_gram = grams.groupBy(*key, "__g").agg(F.count(F.lit(1)).alias("__c"))
        top = (
            per_gram.filter(F.col("__c") >= 2)
            .groupBy(*key)
            .agg(
                F.max(F.col("__c") * F.length("__g")).alias(f"__top{n}")
            )
        )
        out = out.join(top, key, "left").withColumn(
            f"top{n}gram_char_frac",
            F.when(
                F.col(f"__top{n}").isNotNull() & (F.col("__nc") > 0),
                F.col(f"__top{n}").cast("double") / F.col("__nc").cast("double"),
            ).otherwise(F.lit(0.0)),
        ).drop(f"__top{n}")
    return out.drop("__nc")


def _maybe_persist(df: DataFrame) -> DataFrame:
    """Persist a relation consumed by several plan branches (Catalyst
    re-executes branches; see ops.dedup._maybe_cache).

    Deliberately a LAZY persist, not a localCheckpoint: for these
    corpus-sized relations a checkpoint measured ~1.5x slower (its
    blocks always hit disk-backed storage; persist serves from memory
    when it fits). The cost is a cache entry that lives until LRU
    eviction or clearCache — bounded by executor storage, acceptable for
    the throughput win; small multi-consumer relations elsewhere use
    eager localCheckpoint instead (resample buckets, distinctive_terms).
    """
    from pyspark import StorageLevel

    return track_persist(df.persist(StorageLevel.MEMORY_AND_DISK))


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = WORD_RE,
) -> DataFrame:
    """Corpus-level token statistics: (token, term_freq, doc_freq) — the
    input to vocabulary construction / BPE seeding and contamination
    checks.

    The classic word-count shape: one explode + one groupBy with map-side
    partial aggregation; ``doc_freq`` via count(distinct id), which Spark
    plans as a two-phase aggregate — no data-proportional driver state.
    """
    toks = spread_small_input(df).select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_col(F.col(text_col), pattern)).alias("token"),
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("__id").alias("doc_freq"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    min_doc_count: int = 5,
    sep: str = "\n",
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """Cross-document duplicate-line removal — the CCNet/RefinedWeb
    boilerplate scrub: any line appearing in ≥ ``min_doc_count`` distinct
    documents (nav bars, cookie banners, copyright footers) is dropped
    from every document; surviving lines are reassembled in their
    original order.

    Emits: id columns, ``n_lines``, ``n_kept``, ``text_dedup``. Unlike
    CCNet's keep-first-occurrence rule (order-dependent, serial), the
    threshold rule is order-free and deterministic — drop/keep for a line
    depends only on its corpus-wide distinct-doc count.

    Scale: one posexplode; the boilerplate set (lines over the threshold)
    is by construction ≪ the line relation — broadcast it (default) so
    the line relation never shuffles on the skewed line key; reassembly
    is a per-doc groupBy with ``collect_list``+``array_sort`` (bounded by
    a document's own line count). All counts integer; the reassembled
    text is byte-deterministic → oracle-exact via md5.
    """
    import re as _re

    key = list(id_cols)
    lines = spread_small_input(df).select(
        *key,
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "__pos", "__ln"
        ),
    )
    lines = _maybe_persist(lines)
    boiler = (
        lines.groupBy("__ln")
        .agg(F.countDistinct(*key).alias("__df"))
        .filter(F.col("__df") >= min_doc_count)
        .select("__ln", F.lit(True).alias("__drop"))
    )
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    marked = lines.join(boiler, "__ln", "left")
    kept_struct = F.when(
        F.col("__drop").isNull(), F.struct("__pos", "__ln")
    )  # collect_list skips nulls -> dropped lines vanish
    return marked.groupBy(*key).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("__drop").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["__ln"]
            ),
        ).alias("text_dedup"),
    )


def token_rarity(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    rare_threshold: int = 2,
    freq: "DataFrame | None" = None,
    broadcast_freq: bool = True,
) -> DataFrame:
    """Per-document corpus-frequency rarity profile — the LM-free stand-in
    for perplexity filtering (CCNet buckets documents by LM score; with no
    model in the loop, mean corpus term frequency of a doc's tokens is the
    classic proxy: boilerplate scores common, gibberish scores rare).

    Columns: ``n_tokens`` (with repeats), ``sum_corpus_tf`` (Σ corpus
    term_freq over the doc's tokens — exact BIGINT), ``mean_token_tf``,
    ``n_rare`` (tokens whose corpus term_freq ≤ ``rare_threshold``),
    ``rare_frac``. Pass a precomputed ``freq`` relation
    ((token, term_freq), e.g. from ``token_frequencies`` of a larger
    corpus) to score against an external vocabulary; tokens absent from it
    count as frequency 0 (rare).

    Scale: one explode + one equi-join on token + one groupBy. The
    frequency table is vocabulary-sized (≪ corpus) — broadcast by default
    so the exploded relation never shuffles on the Zipf-skewed token key;
    ``broadcast_freq=False`` falls back to a shuffle join for a giant
    external vocabulary (expect skew on stopword tokens; salt if needed).
    All counts integer; one division per ratio → oracle-exact.
    """
    key = list(id_cols)
    if freq is None:
        freq = token_frequencies(df, text_col=text_col, id_col=key[0])
    f = freq.select("token", F.col("term_freq").cast("long").alias("__tf"))
    if broadcast_freq:
        f = F.broadcast(f)
    toks = spread_small_input(df).select(
        *key, F.explode(tokens_col(F.col(text_col))).alias("token")
    )
    tf = F.coalesce(F.col("__tf"), F.lit(0).cast("long"))
    per = (
        toks.join(f, "token", "left")
        .groupBy(*key)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(tf).alias("sum_corpus_tf"),
            F.sum(F.when(tf <= rare_threshold, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    out = df.select(*key).join(per, key, "left")
    z = F.lit(0).cast("long")
    n = F.coalesce(F.col("n_tokens"), z)
    safe = lambda num: F.when(
        n > 0, num.cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))
    return out.select(
        *key,
        n.alias("n_tokens"),
        F.coalesce(F.col("sum_corpus_tf"), z).alias("sum_corpus_tf"),
        safe(F.coalesce(F.col("sum_corpus_tf"), z)).alias("mean_token_tf"),
        F.coalesce(F.col("n_rare"), z).alias("n_rare"),
        safe(F.coalesce(F.col("n_rare"), z)).alias("rare_frac"),
    )


# PII patterns, kept dialect-neutral (identical in Java regex and RE2):
# character classes, bounded repetition, non-capturing groups, \b only.
PII_PATTERNS: Dict[str, str] = {
    # order matters: emails first (their local part contains dots/digits a
    # later pattern could nibble), then IPs, then phone-like digit runs.
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip": "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    "phone": "\\+?[0-9][0-9()\\- ]{7,}[0-9]",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    patterns: Dict[str, str] = PII_PATTERNS,
) -> DataFrame:
    """PII detection + redaction (the C4/RefinedWeb-style scrub step):
    per document, a match count per pattern (on the raw text) and the
    text with each match replaced by ``<NAME>`` placeholders, applied in
    the dict's order.

    Pure ``regexp_count``/``regexp_replace`` expressions — whole-stage
    codegen, linear per-row work, no shuffle. Patterns are restricted to
    the Java-regex ∩ RE2 dialect so a DuckDB oracle reruns them verbatim.
    """
    df = spread_small_input(df)
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(p)).cast("long").alias(f"n_{name}")
        for name, p in patterns.items()
    ]
    redacted = c
    for name, p in patterns.items():
        redacted = F.regexp_replace(redacted, p, f"<{name.upper()}>")
    return df.select(
        *id_cols,
        *counts,
        redacted.alias("text_redacted"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    *,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    max_punct_token_ratio: float = 0.5,
    min_alpha_token_frac: float = 0.8,
    min_distinct_stopwords: int = 2,
    stopwords: Sequence[str] = EN_STOPWORDS,
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1): the
    composite keep/drop rule a pretraining pipeline applies after the
    per-signal metrics. Emits the rule inputs, a boolean per rule, the
    final ``keep``, and ``drop_reason`` (the FIRST failing rule, in the
    documented order — deterministic).

    Rules (defaults follow the paper; tune per corpus):
      token_count ∈ [min_tokens, max_tokens];
      mean token length ∈ [min_mean_token_len, max_mean_token_len];
      punctuation-to-token ratio ≤ max_punct_token_ratio;
      fraction of purely-alphabetic tokens ≥ min_alpha_token_frac;
      distinct stopword hits ≥ min_distinct_stopwords.

    Pure column expressions over one pass of the text (whole-stage
    codegen); ratios are single divisions of integer counts → a SQL
    oracle reproduces bit-for-bit.
    """
    df = spread_small_input(df)
    toks = _tokens(text_col)
    sw = F.array([F.lit(s) for s in stopwords])
    n_tokens = F.size(toks).cast("long")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("long")
    n_punct = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("[^a-zA-Z0-9\\s]"), F.lit(0))
    ).cast("long")
    n_stop_distinct = F.size(
        F.array_intersect(F.array_distinct(toks), sw)
    ).cast("long")
    mean_len = F.when(
        n_tokens > 0, tok_chars.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_tokens > 0, n_alpha.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_tokens > 0, n_punct.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))

    rules = [
        ("token_count", (n_tokens >= min_tokens) & (n_tokens <= max_tokens)),
        (
            "mean_token_len",
            (mean_len >= min_mean_token_len) & (mean_len <= max_mean_token_len),
        ),
        ("punct_ratio", punct_ratio <= max_punct_token_ratio),
        ("alpha_frac", alpha_frac >= min_alpha_token_frac),
        ("stopwords", n_stop_distinct >= min_distinct_stopwords),
    ]
    keep = F.lit(True)
    reason = F.lit(None).cast("string")
    for name, ok in rules:
        reason = F.when(reason.isNull() & ~ok, F.lit(name)).otherwise(reason)
        keep = keep & ok
    return df.select(
        *id_cols,
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        punct_ratio.alias("punct_token_ratio"),
        alpha_frac.alias("alpha_token_frac"),
        n_stop_distinct.alias("n_stop_distinct"),
        *[ok.alias(f"ok_{name}") for name, ok in rules],
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark contamination: per document, the fraction of its distinct
    word ``n``-grams that appear anywhere in ``benchmark`` — the n-gram
    overlap rule pretraining pipelines use to decontaminate training data
    against eval sets (GPT-3 appendix C uses 13-grams; pick ``n`` to
    match your benchmark's length scale).

    Columns: ``n_ngrams`` (distinct n-grams in the doc), ``n_contaminated``
    (those present in the benchmark), ``contamination_frac``. Docs shorter
    than ``n`` tokens have 0 n-grams and frac 0.0.

    Scale: the benchmark's distinct n-gram set is usually eval-set-sized —
    broadcast it (default) so the corpus never shuffles; set
    ``broadcast_benchmark=False`` for a giant benchmark and the join
    becomes a shuffle equi-join on the n-gram string. One explode +
    count-distinct aggregate per side; integer counts, one division.
    """
    from timeseriesfuser_spark.ops.dedup import shingle_array

    key = list(id_cols)
    doc_grams = spread_small_input(df).select(
        *key, F.explode(shingle_array(text_col, n)).alias("__g")
    )
    bench_grams = (
        benchmark.select(F.explode(shingle_array(bench_text_col, n)).alias("__g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    per_doc = (
        doc_grams.join(bench_grams, "__g", "left")
        .groupBy(*key)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )
    # re-attach docs with < n tokens (no shingles -> dropped by the explode)
    out = df.select(*key).join(per_doc, key, "left")
    return out.select(
        *key,
        F.coalesce(F.col("n_ngrams"), F.lit(0).cast("long")).alias("n_ngrams"),
        F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).alias(
            "n_contaminated"
        ),
        F.when(
            F.col("n_ngrams") > 0,
            F.col("n_contaminated").cast("double") / F.col("n_ngrams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination_frac"),
    )


def doc_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Deterministic document fingerprints:

    - ``fp_md5``: md5 of the whitespace-normalized lowercase text (exact
      content identity up to whitespace/case);
    - ``fp_minshingle``: the minimum md5 over word-3-gram shingles — a
      1-hash MinHash usable as a cheap near-dup blocking key.

    Both reproducible in ANSI SQL (md5 + min over unnested shingles).
    """
    from timeseriesfuser_spark.ops.dedup import shingle_array, md5_hash64

    df = spread_small_input(df)
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    sh = shingle_array(text_col, 3)
    return df.select(
        *id_cols,
        F.md5(norm).alias("fp_md5"),
        F.array_min(F.transform(sh, lambda s: md5_hash64(s))).alias("fp_minshingle"),
    )

def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    scale: int = 1_000_000,
    broadcast_df: bool = True,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf rank:
    (id, token, tf, df, score), score = tf·scale DIV df.

    The integer score is rank-equivalent to tf/df (and, within one corpus,
    to tf·N/df — the corpus-size factor is constant per ranking) but stays
    engine-exact: no log/float, no int64 overflow at any corpus size
    (tf ≤ doc length, so score ≤ doc_len·scale). Ties break on token text,
    so the top-k set is deterministic.

    Scale: one explode + groupBy for per-doc tf (partial agg map-side),
    one vocabulary-sized groupBy for df — broadcast back onto the tf
    relation so nothing shuffles on the Zipf-skewed token key (same stance
    as ``token_rarity``; pass ``broadcast_df=False`` for an open
    vocabulary) — then a per-doc row_number window (docs have bounded
    length, so no skewed partition)."""
    from pyspark.sql.window import Window

    toks = spread_small_input(df).select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("token")
    )
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.persist()  # multi-consumer; lazy — see _maybe_persist note
    dfr = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if broadcast_df:
        dfr = F.broadcast(dfr)
    scored = tf.join(dfr, "token").withColumn(
        "score", F.expr(f"tf * {scale} DIV df")
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(F.col("id").alias(id_col), "token", "tf", "df", "score")
    )

def distinctive_terms(
    df: DataFrame,
    *,
    strata_col: str = "source",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 10,
) -> DataFrame:
    """Per-stratum characteristic vocabulary: for each stratum (source,
    domain, language …), the ``top_k`` tokens most over-represented
    relative to the whole corpus — the domain-drift / corpus-composition
    monitor of a data pipeline ("what does this source talk about that
    the others don't?").

    lift_ppm = ppm(token | stratum) · 1e6 DIV ppm(token | corpus), both
    ppms themselves exact integer DIVs — the chained-truncation form
    keeps every intermediate < 1e12 (no 64-bit overflow at any corpus
    size, engine-reproducible) at the cost of ≤1 ulp truncation bias,
    identical on both sides. Tokens whose corpus ppm truncates to 0
    (ultra-rare against a huge corpus) are excluded rather than divided.

    Scale: one explode + two hash aggregations (stratum×token, then
    token), a broadcast per-stratum totals relation, and a ranking window
    over the *aggregated* (stratum × vocab) relation — never over the
    exploded token stream; ``min_count`` prunes the Zipf tail before the
    window. Output ordered ties broken by token text for determinism.
    """
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(strata_col).alias("stratum"),
        F.explode(_tokens(text_col)).alias("tk"),
    )
    # Eager local checkpoint: st feeds four consumers (materialize once,
    # no cache pin left in the session — a .persist() here leaked a
    # block per invocation).
    st = (
        tok.groupBy("stratum", "tk")
        .agg(F.count(F.lit(1)).alias("cnt_s"))
        .localCheckpoint(eager=True)
    )
    corpus = st.groupBy("tk").agg(F.sum("cnt_s").alias("cnt_c"))
    totals_s = st.groupBy(F.col("stratum").alias("__ts_stratum")).agg(
        F.sum("cnt_s").alias("tot_s")
    )
    total = st.agg(F.sum("cnt_s").alias("tot_c"))
    base = st.filter(F.col("cnt_s") >= int(min_count)).join(corpus, "tk")
    # null-safe totals join: an unlabeled (NULL) stratum is still a
    # stratum of the report; a plain equi-join would drop its rows.
    scored = (
        base.join(
            F.broadcast(totals_s),
            base["stratum"].eqNullSafe(totals_s["__ts_stratum"]),
        )
        .drop("__ts_stratum")
        .crossJoin(F.broadcast(total))
        .select(
            "stratum",
            "tk",
            F.col("cnt_s").cast("long").alias("cnt_s"),
            F.expr("cnt_s * 1000000 DIV tot_s").cast("long").alias("ppm_stratum"),
            F.expr("cnt_c * 1000000 DIV tot_c").cast("long").alias("ppm_corpus"),
        )
        .filter(F.col("ppm_corpus") > 0)
        .withColumn(
            "lift_ppm",
            F.expr("ppm_stratum * 1000000 DIV ppm_corpus").cast("long"),
        )
    )
    w = Window.partitionBy("stratum").orderBy(
        F.desc("lift_ppm"), F.col("tk")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(top_k))
    )
    return out.select(
        F.col("stratum").alias(strata_col),
        F.col("tk").alias("token"),
        "cnt_s",
        "ppm_stratum",
        "ppm_corpus",
        "lift_ppm",
        "rank",
    )


def dedup_lines_within_doc(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document repeated-line removal: keep the FIRST occurrence of
    each line, preserving order (the in-page twin of cross-doc
    :func:`line_dedup` — repeated nav blocks, double-pasted paragraphs).

    Zero shuffle, zero explode: one higher-order ``filter`` with a
    positional lambda per row (keep line i iff its first occurrence in
    the doc IS position i) stays inside whole-stage codegen. Per-row cost
    is O(lines²) string compares — lines-per-doc is bounded in practice;
    a corpus shards perfectly since no row looks at another. NULL text
    passes through as NULL with NULL counts (SQL semantics).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda x, i: F.array_position(lines, x) == i + 1)
    # The deduped text must NOT be aliased to the input column's name
    # inside the same select: Spark's lateral-column-alias resolution can
    # rebind the sibling expressions' F.col(text_col) to the NEW column,
    # silently computing the counts over the already-deduped text
    # (observed: n_removed off by the duplicate count). Alias to a
    # placeholder, rename after.
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("__dedup_text"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        F.size(lines).cast("long").alias("n_lines"),
    ).withColumnRenamed("__dedup_text", "text")


def decontaminate_spans(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level decontamination: REMOVE every word ``n``-gram span that
    appears in ``benchmark``, keep the rest of the document — the
    surgical variant of :func:`contamination_check`'s doc-level verdict
    (drop the sentence that quotes the eval set, not the whole page).

    A token is removed iff it lies inside at least one contaminated
    n-gram occurrence (overlapping spans union). Output columns:
    ``clean_text`` (kept tokens space-joined — token-normalized text,
    matching how n-gram decontamination pipelines operate; NULL text →
    NULL), ``n_tokens``, ``n_removed`` (0 for NULL text).

    Scale: benchmark n-gram set broadcast (eval-set-sized); the corpus
    explodes once to (position, gram) rows for the membership join, hit
    positions fold back via one per-doc collect_set (bounded by hits,
    not doc length) and the removal itself is a zero-shuffle
    higher-order filter over the token array.
    """
    from timeseriesfuser_spark.ops.dedup import shingle_array

    key = list(id_cols)
    base = spread_small_input(df).select(
        *key, F.col(text_col).alias("__text")
    )
    toks = tokens_col(F.col("__text"))
    tok_rel = base.select(*key, toks.alias("__tk"))
    starts = F.when(
        F.size("__tk") >= n,
        F.sequence(F.lit(1), F.size("__tk") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = tok_rel.select(
        *key, F.col("__tk"), F.explode(starts).alias("__i")
    ).select(
        *key,
        "__i",
        F.concat_ws(" ", F.slice("__tk", F.col("__i"), n)).alias("__g"),
    )
    bg = benchmark.select(
        F.explode(shingle_array(bench_text_col, n)).alias("__g")
    ).distinct()
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    hits = grams.join(bg, "__g").groupBy(*key).agg(
        F.collect_set("__i").alias("__hits")
    )
    # union of covered token positions (1-based); n-gram at i covers
    # i..i+n-1 and never exceeds the token count (i <= len-n+1)
    cov = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__hits"), F.array().cast("array<int>")),
                lambda h: F.sequence(h, h + (n - 1)),
            )
        )
    )
    out = base.join(hits, key, "left").select(
        *key, F.col("__text"), cov.alias("__cov")
    )
    toks2 = tokens_col(F.col("__text"))
    kept = F.filter(
        toks2, lambda t, j: ~F.array_contains(F.col("__cov"), j + F.lit(1))
    )
    return out.select(
        *key,
        F.when(
            F.col("__text").isNotNull(), F.concat_ws(" ", kept)
        ).alias("clean_text"),
        F.coalesce(F.size(toks2), F.lit(0)).cast("long").alias("n_tokens"),
        F.size("__cov").cast("long").alias("n_removed"),
    )


def build_token_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional inverted index: one (token, id, pos) row per token
    occurrence (1-based position over the ``WORD_RE`` tokenization) —
    the reusable search structure corpus-scale phrase/proximity queries
    join against instead of rescanning raw text.

    Scale: one projection + posexplode, no shuffle; persist — or write
    bucketed BY token with :func:`write_token_index` — once and amortize
    across queries: at 100 TB the index build is the one full-corpus
    pass, every search after it touches only the queried tokens'
    postings (bucket-pruned scans via :func:`load_token_index`).
    """
    return (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(_tokens(text_col)).alias("pos0", "token"),
        )
        .select("token", "id", (F.col("pos0") + 1).cast("long").alias("pos"))
    )


def phrase_search_indexed(
    index: DataFrame,
    phrase_tokens,
    *,
    token_col: str = "token",
    id_col: str = "id",
    pos_col: str = "pos",
    df_ordered: bool = True,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Exact phrase search over a :func:`build_token_index` relation:
    docs where the tokens appear CONSECUTIVELY, via the classic postings
    intersection — the i-th phrase token's postings are shifted by −i and
    equi-joined on (doc, aligned position), so a k-token phrase is k−1
    joins over per-token posting lists (df(token) rows each), never a
    corpus scan.

    Returns (id, n_matches, first_pos): match count and the 1-based
    position of the first occurrence per matching doc. Exact-integer
    output.

    ``df_ordered=True`` (default) joins the posting lists rarest-token
    first: one tiny aggregate (|phrase| rows) measures each token's
    posting count, then the join chain starts from the smallest list so
    every intermediate is bounded by the rarest token's df — the classic
    conjunctive-query ordering that keeps a stop word in the phrase from
    making the first join corpus-sized. Join order cannot change the
    intersection, so results are identical either way; pass
    ``df_ordered=False`` to skip the planning aggregate for one-shot
    small searches.
    """
    phrase = list(phrase_tokens)
    if not phrase:
        raise ValueError("phrase_tokens must be non-empty")
    order = list(range(len(phrase)))
    counts: dict = {}
    if df_ordered and len(set(phrase)) > 1:
        counts = {
            r["t"]: r["n"]
            for r in index.filter(F.col(token_col).isin(list(set(phrase))))
            .groupBy(F.col(token_col).alias("t"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # a phrase token absent from the index -> empty result; df 0
        # sorts first so the very first (empty) relation short-circuits
        order.sort(key=lambda i: (counts.get(phrase[i], 0), i))

    def postings(i: int):
        # align every list to the phrase START: token i matches at
        # pos - i regardless of join order
        return index.filter(F.col(token_col) == phrase[i]).select(
            F.col(id_col).alias("id"),
            (F.col(pos_col).cast("long") - i).alias("pos"),
        )

    # Exact-statistics join planning: the planning aggregate's measured
    # posting counts drive broadcast hints, so a search over a persisted
    # (bucket-pruned) index joins with NO shuffle on the postings side —
    # either the new postings list is broadcast (small token), or the
    # accumulated intersection is (bounded by the rarest token's df).
    cur = postings(order[0])
    cur_bound = counts.get(phrase[order[0]], None)
    for i in order[1:]:
        p = postings(i)
        if counts.get(phrase[i], 0) <= broadcast_max_rows and counts:
            p = F.broadcast(p)
        elif cur_bound is not None and cur_bound <= broadcast_max_rows:
            cur = F.broadcast(cur)
        cur = cur.join(p, ["id", "pos"])
    return cur.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("pos").alias("first_pos"),
    )


def write_token_index(
    index: DataFrame,
    table_name: str,
    *,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist a :func:`build_token_index` relation as a bucketed table —
    the amortization path the index build promises: at corpus scale the
    one full-data pass is the index build; every phrase/proximity search
    afterwards should touch only the queried tokens' postings.

    Layout: ``bucketBy(num_buckets, "token")`` so an equality filter on a
    phrase token scans ONE bucket's files (Spark bucket pruning —
    ``SelectedBucketsCount: 1 out of N`` in the plan), plus
    ``sortBy(token, id, pos)`` so parquet row-group min/max stats on the
    sorted token column let the pushed-down filter skip row groups
    within the bucket. Postings come back clustered by (id, pos) — the
    intersection join's probe order.

    Bucketed writes require the table catalog (``saveAsTable``); pick
    ``num_buckets`` so one bucket's postings for the hottest expected
    token fit an executor's scan budget, not by corpus size — pruning
    makes search cost proportional to the queried tokens' df only.
    """
    (
        index.write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, "token")
        .sortBy("token", "id", "pos")
        .saveAsTable(table_name)
    )


def load_token_index(spark, table_name: str) -> DataFrame:
    """Load a :func:`write_token_index` table. The bucketing metadata
    rides along from the catalog, so :func:`phrase_search_indexed` over
    this relation gets bucket-pruned scans per token filter; with
    ``df_ordered=True`` the measured posting counts also drive broadcast
    hints, keeping the intersection joins shuffle-free (no Exchange on
    the postings side — gated in ``tests/test_plan_quality.py``)."""
    return spark.table(table_name)


def fuzzy_match_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_edits: int = 1,
    max_bucket="auto",
    cache: bool = True,
) -> DataFrame:
    """Edit-distance-bounded string match pairs via deletion-neighborhood
    blocking (the FastSS / SymSpell scheme): two strings with
    Levenshtein distance ≤ 1 necessarily share a member of each other's
    {self} ∪ {one-char deletions} set, so candidate generation is an
    equi-join on those |s|+1 keys per string — never the all-pairs
    product — and every candidate is verified with exact
    ``levenshtein ≤ max_edits``. The entity-resolution primitive for
    short strings (names, SKUs, usernames, titles).

    ``max_edits`` is currently capped at 1: the 1-deletion neighborhood
    is EXACT for distance ≤ 1 (a substitution shares the
    both-sides-deleted variant, an indel shares the shorter string);
    distance 2 would need the |s|² 2-deletion neighborhood.

    Output: (id_a, id_b, edit_distance), id_a < id_b, distance ≤
    ``max_edits`` (0 = exact duplicates included).

    Scale: the block join is quadratic PER BLOCK like any blocked
    pair-generation — ``max_bucket`` (default "auto") applies the LSH
    family's hot-bucket guard (``ops.dedup._window_cap``: dropped
    buckets counted as the observed metric
    ``fuzzy_match_pairs.bucket_cap``).
    Verification is one codegen ``levenshtein`` per candidate.
    """
    if max_edits != 1:
        raise ValueError(
            "max_edits must be 1 (the 1-deletion neighborhood is exact "
            "only for distance <= 1)"
        )
    from timeseriesfuser_spark.ops.dedup import _maybe_cache, _window_cap

    s = F.col(text_col)
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), i - 1),
            s.substr(i + 1, F.length(s)),
        ),
    )
    variants = F.array_distinct(F.concat(F.array(s), dels))
    blocks = _maybe_cache(
        spread_small_input(df)
        .filter(s.isNotNull() & F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            s.alias("__s"),
            F.explode(variants).alias("__k"),
        ),
        cache,
    )
    blocks = _window_cap(blocks, ["__k"], max_bucket, "fuzzy_match_pairs")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, (F.col("a.__k") == F.col("b.__k"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.__s").alias("__sa"),
            F.col("b.__s").alias("__sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("edit_distance",
                        F.levenshtein("__sa", "__sb").cast("long"))
        .filter(F.col("edit_distance") <= max_edits)
        .select("id_a", "id_b", "edit_distance")
    )


# Package-level alias: ``ops.entity.fuzzy_match_pairs`` (block-Levenshtein
# entity matcher) owns the bare name in ``timeseriesfuser_spark.ops``; this
# deletion-neighborhood text op is exported there as ``fuzzy_text_pairs``.
fuzzy_text_pairs = fuzzy_match_pairs


def bm25_topk(
    df: DataFrame,
    query_terms,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1=(6, 5),
    b=(3, 4),
) -> DataFrame:
    """Top-``k`` documents for a term query under a log-free integer
    BM25: per matched term,

        score = idf_ppm · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    with ``idf_ppm = N·1e6 DIV df`` — the Robertson idf's rational core
    without the logarithm, so every score is an exact integer (summed
    per doc as ``bm25_u``) and engine-reproducible. Rankings keep BM25's
    tf saturation and length normalization exactly; only the
    *cross-term* idf damping differs from the textbook ln form (rare
    terms weigh linearly, not logarithmically, in N/df) — documented
    trade for a hash-verifiable oracle (the ln-free policy of
    ``hll_estimate_corrected`` / ``psi_drift``).

    ``k1``/``b`` are integer rationals (num, den); the whole per-term
    ratio is cleared to one fraction of exact integers:

        num = tf · (k1n + k1d) · bd · T
        den = tf · k1d·bd·T + k1n·(bd − bn)·T + k1n·bn·dl·D

    (T = corpus token count, D = doc count, dl = doc length), evaluated
    in decimal(38,0) — no overflow at any corpus size, and DuckDB's
    HUGEINT promotion matches it.

    Scale: ONE tokenize pass over the corpus — dl and every per-term tf
    come out of the same projection (``size(filter(tokens, = term))``
    per term: no explode of the token stream, no shuffle before the
    match filter; measured 4× faster than the explode-then-filter form
    at 1M docs). Docs matching no term are filtered before the |q|-wide
    stack unpivot, so the aggregated relation is match-bounded. At
    100 TB run it over a persisted :func:`write_token_index` table for
    bucket-pruned postings scans instead. Per-term df and the (D, T)
    totals are broadcast; the final top-k is a TakeOrdered, not a
    global sort. Ties break on id ascending.

    Returns (id, bm25_u, n_terms) — BIGINT score in idf-ppm units and
    the number of distinct query terms matched.
    """
    terms = sorted({str(t) for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    k1n, k1d = int(k1[0]), int(k1[1])
    bn, bd = int(b[0]), int(b[1])
    if k1n <= 0 or k1d <= 0 or bd <= 0 or bn < 0 or bn > bd:
        raise ValueError("k1 must be a positive rational, b in [0, 1]")

    base = spread_small_input(df)
    toks = F.coalesce(
        _tokens(text_col), F.array().cast("array<string>")
    )
    tf_cols = [
        F.size(F.filter(toks, lambda x: x == F.lit(t)))
        .cast("long")
        .alias(f"__tf{i}")
        for i, t in enumerate(terms)
    ]
    proj = base.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("long").alias("dl"),
        *tf_cols,
    )
    stats = proj.agg(
        F.count(F.lit(1)).cast("long").alias("__D"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("__T"),
    )
    # |q|-wide stack unpivot AFTER the any-match filter: the exploded
    # relation is match-bounded, never corpus-sized
    any_match = proj.filter(
        " OR ".join(f"__tf{i} > 0" for i in range(len(terms)))
    )
    # terms splice into the stack() literal list: escape quotes so a
    # user-supplied term can never break out of the string literal
    stack = ", ".join(
        "'{}', __tf{}".format(t.replace("'", "''"), i)
        for i, t in enumerate(terms)
    )
    tf = (
        any_match.select(
            "id",
            "dl",
            F.expr(
                f"stack({len(terms)}, {stack}) AS (token, tf)"
            ),
        )
        .filter(F.col("tf") > 0)
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("dft"))
    c_num = (k1n + k1d) * bd  # tf coefficient of the numerator
    c_tf = k1d * bd  # tf coefficient of the denominator (×T)
    c_const = k1n * (bd - bn)  # constant term (×T)
    c_dl = k1n * bn  # dl coefficient (×D)
    scored = (
        tf.join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_ppm", F.expr("__D * 1000000 DIV dft"))
        .withColumn(
            "__s",
            F.expr(
                f"(CAST(idf_ppm AS DECIMAL(38,0)) * {c_num} * __T * tf)"
                f" DIV (CAST({c_tf} AS DECIMAL(38,0)) * __T * tf"
                f" + CAST({c_const} AS DECIMAL(38,0)) * __T"
                f" + CAST({c_dl} AS DECIMAL(38,0)) * dl * __D)"
            ).cast("long"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("__s").cast("long").alias("bm25_u"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .orderBy(F.desc("bm25_u"), F.asc("id"))
        .limit(int(k))
    )


def script_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unicode script composition per document — the multilingual-corpus
    triage ``language_id`` can't give (it picks ONE language; this
    measures MIXTURE): codepoint counts for Latin / Han / Cyrillic
    scripts plus digits and whitespace, and ``latin_ppm`` as the
    headline mixture ratio. The standard pre-filter for script-targeted
    pipelines (drop docs whose expected script is a minority) and for
    mojibake detection (high ``n_other``).

    Counting is subtractive — ``len(text) − len(regexp_replace(class,
    ''))`` — with Unicode script classes that Java regex
    (``\\p{IsLatin}``) and RE2 (``\\p{Latin}``) evaluate identically
    (verified cross-engine). NULL text profiles as all-zero.

    Scale: a pure projection — no shuffle, whole-stage codegen, one
    pass over the corpus.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)

    def _cnt(pat: str):
        return (n - F.length(F.regexp_replace(t, pat, ""))).cast("long")

    out = df.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_chars"),
        _cnt(r"\p{IsLatin}").alias("n_latin"),
        _cnt(r"\p{IsHan}").alias("n_han"),
        _cnt(r"\p{IsCyrillic}").alias("n_cyrillic"),
        _cnt("[0-9]").alias("n_digit"),
        _cnt(r"\s").alias("n_space"),
    )
    return out.withColumn(
        "n_other",
        (
            F.col("n_chars") - F.col("n_latin") - F.col("n_han")
            - F.col("n_cyrillic") - F.col("n_digit") - F.col("n_space")
        ).cast("long"),
    ).withColumn(
        "latin_ppm",
        F.when(
            F.col("n_chars") > 0,
            F.expr("n_latin * 1000000 DIV n_chars"),
        ).otherwise(F.lit(0)).cast("long"),
    )


def readability_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document in exact integer milli-units —
    the classic quality-scoring feature (Gopher/C4-style pipelines gate
    on it) without a float surface:

        flesch_milli = 206835 − 1015·words DIV sentences
                              − 84600·syllables DIV words

    Words are ``WORD_RE`` tokens; sentences are ``[.!?]+`` runs
    (minimum 1 — headline-style text is one sentence); syllables use
    the standard vowel-group heuristic (runs of ``[aeiouy]`` in the
    lowercased text — a deterministic proxy, ±1 per word on silent-e
    words, fine for corpus-level gating). Zero-word docs emit NULL
    flesch_milli (the division is undefined, not zero).

    Scale: a pure projection — regexp counts only, no shuffle, one
    corpus pass.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.size(tokens_col(t)).cast("long")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    syllables = F.size(
        F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    out = df.select(
        F.col(id_col).alias("id"),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
    )
    return out.withColumn(
        "flesch_milli",
        F.when(
            F.col("n_words") > 0,
            F.lit(206835)
            - F.expr("1015 * n_words DIV n_sentences")
            - F.expr("84600 * n_syllables DIV n_words"),
        ).cast("long"),
    )


def html_text_extract(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate HTML → text extraction — the first step of every
    web-crawl pipeline: drop <script>/<style> blocks wholesale, strip
    remaining tags, decode the common HTML entities, collapse
    whitespace. Deterministic regexp chain (identical semantics in Java
    regex and RE2; ``(?s)`` dot-matches-newline for block removal),
    NULL html stays NULL.

    Entity decoding order is the standard one — ``&amp;`` LAST — so
    double-encoded text (``&amp;lt;``) decodes one level per pass, never
    two. This is the regex fast path, not a spec parser: good for
    quality scoring and dedup prep, not for DOM-accurate extraction.

    Output: (id, clean_text, n_chars_raw, n_chars_clean). Pure
    projection — zero shuffle, whole-stage codegen.
    """
    raw = F.col(text_col)
    t = raw
    for pat, rep in [
        (r"(?s)<script[^>]*>.*?</script>", " "),
        (r"(?s)<style[^>]*>.*?</style>", " "),
        (r"(?s)<!--.*?-->", " "),
        (r"<[^>]*>", " "),
        (r"&nbsp;", " "),
        (r"&lt;", "<"),
        (r"&gt;", ">"),
        (r"&quot;", "\""),
        (r"&#39;", "'"),
        (r"&apos;", "'"),
        (r"&amp;", "&"),
    ]:
        t = F.regexp_replace(t, pat, rep)
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.select(
        F.col(id_col).alias("id"),
        t.alias("clean_text"),
        F.coalesce(F.length(raw), F.lit(0)).cast("long").alias("n_chars_raw"),
        F.coalesce(F.length(t), F.lit(0)).cast("long").alias("n_chars_clean"),
    )


def collocations_top(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
    scale: int = 1_000_000,
) -> DataFrame:
    """Corpus collocations: adjacent-token bigrams ranked by integer
    lift — observed/expected co-occurrence under independence,

        lift_ppm = c_ab·T·scale DIV (c_a·c_b)

    (c_ab = bigram count, c_a/c_b = unigram counts, T = total tokens) —
    the log-free PMI core (rank-equivalent to pointwise mutual
    information, which is ln of this ratio). The phrase-mining /
    tokenizer-merge-candidate primitive: 'new york', 'machine learning'
    score high because they co-occur far above chance.

    Exact integers end to end (decimal(38,0) for the c_ab·T product —
    no overflow at any corpus size); ``min_count`` prunes the Zipf tail
    before ranking (a 1-occurrence bigram of two rare words has huge
    lift and no support — the standard floor); top_k by (lift desc,
    bigram text) via TakeOrdered.

    Output: (token_a, token_b, n_pair, n_a, n_b, lift_ppm).
    Scale: one bigram explode + three hash aggregations; the unigram
    relation joins back twice (broadcast for a closed vocab — the
    ``token_rarity`` stance).
    """
    if min_count < 1 or top_k < 1:
        raise ValueError("min_count and top_k must be >= 1")
    toks = _tokens(text_col)
    big = spread_small_input(df).select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                ),
            ).otherwise(
                F.array().cast("array<struct<a:string,b:string>>")
            )
        ).alias("p")
    ).select(F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b"))
    uni = spread_small_input(df).select(
        F.explode(toks).alias("tk")
    ).groupBy("tk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = uni.agg(F.sum("c").cast("long").alias("__T"))
    pairs = (
        big.groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_count))
    )
    scored = (
        pairs.join(
            F.broadcast(uni.select(F.col("tk").alias("token_a"), F.col("c").alias("n_a"))),
            "token_a",
        )
        .join(
            F.broadcast(uni.select(F.col("tk").alias("token_b"), F.col("c").alias("n_b"))),
            "token_b",
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lift_ppm",
            F.expr(
                f"CAST((CAST(n_pair AS DECIMAL(38,0)) * __T * {int(scale)})"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ),
        )
    )
    return (
        scored.select("token_a", "token_b", "n_pair", "n_a", "n_b", "lift_ppm")
        .orderBy(
            F.desc("lift_ppm"), F.asc("token_a"), F.asc("token_b")
        )
        .limit(int(top_k))
    )
