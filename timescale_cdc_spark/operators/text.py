"""Text analysis operators (SURVEY.md §2 C4): language-ID scoring,
quality scoring, token counting, document fingerprinting. Everything
is built-in Spark SQL expressions — deterministic, oracle-checkable,
codegen'd; no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language marker-word profiles (top function words) for the
#: n-gram/stopword language-ID heuristic. Deliberately small — the
#: operator's job is the scoring machinery; profiles are swappable.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def trunc6(col: Column) -> Column:
    """Truncate to 6 decimals via floor — unlike round(), identical in
    every engine (Spark rounds HALF_UP, DuckDB HALF_EVEN; rational
    ratios DO land exactly on .5 boundaries)."""
    return F.floor(col * 1000000.0) / 1000000.0


def _tokens(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def language_scores(
    df: DataFrame, text_col: str, profiles: dict[str, list[str]] | None = None
) -> DataFrame:
    """C4 language-ID: score = fraction of tokens that are marker
    words of each language; predicted = argmax with lexicographic
    tiebreak. One pass, no shuffle — a map-side classifier.
    """
    profiles = profiles or LANG_PROFILES
    toks = _tokens(text_col)
    out = df
    for lang, markers in sorted(profiles.items()):
        hit = F.size(
            F.filter(toks, lambda w: w.isin(*markers))
        )
        out = out.withColumn(
            f"score_{lang}",
            trunc6(hit / F.greatest(F.size(toks), F.lit(1))),
        )
    langs = sorted(profiles)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.coalesce(
        *[
            F.when(F.col(f"score_{lang}") == best, F.lit(lang))
            for lang in langs
        ]
    )
    return out.withColumn("predicted_lang", pred)


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """C4 quality scoring: length / punctuation / stopword /
    mean-word-length signals combined into one bounded score — the
    pretraining-corpus filter shape (C4). Deterministic rational
    arithmetic + a single round at the end."""
    toks = _tokens(text_col)
    n_chars = F.length(text_col)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    mean_word_len = (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    quality = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * stop_ratio
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.1) * F.least(mean_word_len / F.lit(10.0), F.lit(1.0))
    )
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        trunc6(punct_ratio).alias("punct_ratio"),
        trunc6(stop_ratio).alias("stopword_ratio"),
        trunc6(mean_word_len).alias("mean_word_len"),
        trunc6(quality).alias("quality"),
    )


def token_stats(df: DataFrame, text_col: str) -> DataFrame:
    """C4 token counting: whitespace tokens + a BPE-ish regex token
    count (letter runs / digit runs / single non-space symbols — the
    pre-tokenizer shape of GPT-style BPE)."""
    ws = F.size(_tokens(text_col))
    bpe = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
        )
    )
    return df.select(
        "*",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    )


def fingerprint(df: DataFrame, text_col: str) -> DataFrame:
    """C4 document fingerprinting: md5 over whitespace-normalized,
    lowercased text — the canonical content id used for cross-shard
    exact dedup (cheap, portable, stable)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(
        "*",
        F.md5(normalized).alias("content_fingerprint"),
        F.xxhash64(normalized).alias("content_hash64"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """C4 rolling-hash document fingerprinting — winnowing (the
    MOSS/Stanford scheme): hash every character k-gram (the rolling
    hash), then keep the minimum hash of each length-``window`` run of
    consecutive k-gram hashes. The selected set is position-robust:
    any shared substring of length >= k + window - 1 between two
    documents is GUARANTEED to contribute at least one common
    fingerprint, so partial overlap is detectable where a whole-text
    hash (``fingerprint``) sees nothing.

    Returns (id, fingerprints array<long>, n_fingerprints). Entirely
    JVM expressions on normalized text. Cost is O(len · window) array
    work per document (the HOF slice-min; the deque-based O(len)
    winnowing needs sequential state Spark expressions can't carry) —
    the knob at scale is ``k``/``window``, and the fingerprint sets
    are what you shuffle, never the text.
    """
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    grams = (
        f"transform(sequence(1, greatest(length(_norm) - {k - 1}, 1)), "
        f"i -> xxhash64(substr(_norm, i, {k})))"
    )
    wins = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(_grams) - {window - 1}, 1)), "
        f"j -> array_min(slice(_grams, j, {window}))))"
    )
    return (
        df.withColumn("_norm", normalized)
        .withColumn("_grams", F.expr(grams))
        .withColumn("fingerprints", F.expr(wins))
        .select(
            id_col,
            "fingerprints",
            F.size("fingerprints").alias("n_fingerprints"),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """C4 repetition quality signals — the Gopher/MassiveText filter
    family (Rae et al. 2021, arXiv:2112.11446 Appendix A1.1): natural
    documents repeat themselves a little; scraped boilerplate, SEO
    spam, and generation loops repeat a LOT. Adds per-document:

    - ``n_lines``, ``dup_line_frac`` (1 − distinct/total lines),
      ``dup_line_char_frac`` (fraction of line characters inside
      lines occurring more than once) — pure per-row expressions
      (line counts are bounded per doc, the O(lines²) membership
      scan is map-side CPU);
    - ``top_bigram_frac`` — occurrences of the most frequent word
      2-gram over total 2-gram occurrences;
    - ``dup_trigram_frac`` — 1 − distinct/total word-3-gram
      occurrences.

    The n-gram metrics use the scalable explode → (id, gram) count →
    per-doc aggregate shape (both aggregations combine map-side; the
    shuffle carries one row per DISTINCT gram per doc, not per
    occurrence) rather than per-row O(words²) array scans — at 100 TB
    a 10k-word doc costs 10k shuffled rows, not 10⁸ comparisons.

    Gopher's published keep-thresholds for these signals:
    dup_line_frac ≤ 0.30, dup_line_char_frac ≤ 0.20,
    top_bigram_frac ≤ 0.18, dup_trigram_frac ≤ 0.48 (their
    "fraction of characters in duplicate n-grams" family collapsed
    to the occurrence-fraction form here).
    """
    lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)) / n_lines,
    ).otherwise(F.lit(0.0))
    total_line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    dup_line_chars = F.aggregate(
        lines,
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            F.size(F.filter(lines, lambda y: y == x)) > 1, F.length(x)
        ).otherwise(F.lit(0)),
    )
    dup_line_char_frac = F.when(
        total_line_chars > 0, dup_line_chars / total_line_chars
    ).otherwise(F.lit(0.0))

    words = F.split(F.col(text_col), r"\s+")

    def _grams(n: int) -> F.Column:
        # all n-gram OCCURRENCES (word_shingles dedupes; these must not)
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )

    base = df.select(
        F.col(id_col).alias("_id"),
        _grams(2).alias("_g2"),
        _grams(3).alias("_g3"),
    )
    g2 = (
        base.select("_id", F.explode("_g2").alias("g"))
        .groupBy("_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("_id")
        .agg(
            (F.max("c") / F.sum("c")).alias("top_bigram_frac"),
        )
    )
    g3 = (
        base.select("_id", F.explode("_g3").alias("g"))
        .groupBy("_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("_id")
        .agg(
            (1.0 - F.count("*") / F.sum("c")).alias("dup_trigram_frac"),
        )
    )
    return (
        df.withColumn("n_lines", n_lines)
        .withColumn("dup_line_frac", dup_line_frac)
        .withColumn("dup_line_char_frac", dup_line_char_frac)
        .join(
            g2.withColumnRenamed("_id", id_col), id_col, "left"
        )
        .join(
            g3.withColumnRenamed("_id", id_col), id_col, "left"
        )
        .na.fill({"top_bigram_frac": 0.0, "dup_trigram_frac": 0.0})
    )


#: PII patterns (the Dolma postprocess tagger family — Soldaini et
#: al. 2024, §Appendix "PII"; same categories as the CCNet/RefinedWeb
#: scrubbers): email, North-American-style phone, IPv4. Deliberately
#: restricted to the RE2 ∩ java.util.regex subset — no lookaround, no
#: backreferences, ASCII classes only — so the SAME pattern string
#: runs verbatim in Spark executors and in the DuckDB/RE2 oracle.
#: Production deployments extend these; the operator machinery
#: (count + ordered masked rewrite) is pattern-agnostic.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

#: Dolma-style replacement tokens — distinctive, unsplittable by the
#: whitespace tokenizer, and category-preserving so downstream token
#: accounting still sees one "word" per redacted span.
PII_TOKENS: dict[str, str] = {
    "email": "|||EMAIL_ADDRESS|||",
    "phone": "|||PHONE_NUMBER|||",
    "ip": "|||IP_ADDRESS|||",
}

#: Redaction order is load-bearing: emails are cut first (their
#: domains contain dots but no digit runs, so later patterns cannot
#: fire inside them), phones second (3-3-4 digit runs — cannot match
#: inside a dotted IPv4 whose final octet is ≤3 digits), IPv4 last.
PII_ORDER = ("email", "phone", "ip")


def pii_stats(df: DataFrame, text_col: str) -> DataFrame:
    """C4 PII detection: per-category occurrence counts
    (``n_pii_email``, ``n_pii_phone``, ``n_pii_ip``) as codegen'd
    ``regexp_count`` columns — zero shuffle, zero Python; at 100 TB
    this is a free rider on whatever scan already reads the text."""
    out = df
    for cat in PII_ORDER:
        out = out.withColumn(
            f"n_pii_{cat}",
            F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[cat])).cast(
                "long"
            ),
        )
    return out


def redact_pii(
    df: DataFrame, text_col: str, out_col: str = "pii_redacted"
) -> DataFrame:
    """C4 PII redaction (Dolma recipe): rewrite ``text_col`` with every
    PII match replaced by its category token, in ``PII_ORDER`` (see
    the ordering note above). Pure chained ``regexp_replace`` —
    deterministic, whole-stage-codegen, and byte-identical to the
    RE2 oracle because the patterns stay inside the common subset."""
    expr = F.col(text_col)
    for cat in PII_ORDER:
        expr = F.regexp_replace(
            expr, PII_PATTERNS[cat], PII_TOKENS[cat]
        )
    return df.withColumn(out_col, expr)


def unigram_logprobs(
    ref_docs: DataFrame,
    text_col: str,
    cache_registry: list[DataFrame] | None = None,
    artifact_path: str | None = None,
) -> tuple[DataFrame, float]:
    """C4 reference language model for perplexity-based quality
    filtering (the CCNet recipe — Wenzek et al. 2020, there a 5-gram
    KenLM over Wikipedia; a unigram LM keeps the machinery
    closed-form, oracle-checkable, and broadcastable). Add-one
    smoothing: p(t) = (c_t + 1) / (N + V), OOV mass 1 / (N + V).

    Returns ``(lm, oov_logp)`` where ``lm`` is (token, logp) with
    logp floor-quantized to 6 decimals — the quantization (plus the
    DECIMAL summation in :func:`perplexity_buckets`) is what makes
    per-doc scores exactly reproducible across engines and partition
    orders. One O(1) collect for the normalizer; the LM itself stays
    distributed (and is vocabulary-sized, so it broadcasts).

    ``cache_registry``: the list the persisted vocabulary counts are
    tracked in for later unpersist. Defaults to this module's
    ``_PPL_PERSISTED`` (released via :func:`release_ppl_caches`);
    callers with their own cache lifecycle (curation's stage-boundary
    list) pass their list so releasing THEIR caches never drains a
    sibling flow's warm LM (ADVICE r12).

    ``artifact_path``: build-once persistence (round 14, VERDICT r13
    #3 — the same manifest pattern as the ANN indexes). When set and
    the path holds a committed fit, the explode + groupBy fit is
    SKIPPED entirely: ``lm`` comes back as a scan of the
    vocabulary-sized parquet and ``oov_logp`` from the manifest.
    Otherwise the fit runs once and commits (parquet, then manifest
    written atomically LAST — a torn write leaves no manifest and the
    next call refits). The caller owns the path's lifecycle/staleness
    — key it by the corpus identity (the registered entries key by
    (sf, pid) via scratch_path)."""
    import json
    import math
    import os

    from timescale_cdc_spark.cdc.store import write_json_atomic

    spark = ref_docs.sparkSession
    manifest = (
        os.path.join(artifact_path, "_MANIFEST.json")
        if artifact_path
        else None
    )
    if manifest and os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        return (
            spark.read.parquet(os.path.join(artifact_path, "lm")),
            float(meta["oov_logp"]),
        )

    toks = ref_docs.select(
        F.explode(_tokens(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    # persist: the normalizer collect below materializes the counts,
    # and the returned lm (joined later into the scoring plan) reads
    # them back instead of re-running the explode+groupBy — the fit
    # runs ONCE per call, not once per consumer. Vocabulary-sized, so
    # the cache is small. The cache is registered only in the
    # RETURN-the-plan path: the artifact branch's consumers read the
    # committed parquet, so its persisted counts are released inline
    # once the write lands instead of squatting in executor memory
    # until the registry drains.
    counts = toks.groupBy("token").agg(F.count("*").alias("c")).persist()
    if not artifact_path:
        (
            _PPL_PERSISTED if cache_registry is None else cache_registry
        ).append(counts)
    row = counts.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    ).collect()[0]
    denom = float((row["n"] or 0) + row["v"])
    if denom == 0:
        raise ValueError("reference corpus has no tokens")
    lm = counts.select(
        "token",
        (
            F.floor(F.log((F.col("c") + 1) / F.lit(denom)) * 1000000.0)
            / 1000000.0
        ).alias("logp"),
    )
    oov_logp = math.floor(math.log(1.0 / denom) * 1000000.0) / 1000000.0
    if artifact_path:
        lm_dir = os.path.join(artifact_path, "lm")
        lm.write.mode("overwrite").parquet(lm_dir)
        write_json_atomic(
            manifest, {"oov_logp": oov_logp, "denom": denom, "v": row["v"]}
        )
        # hand back the artifact scan: the write above already
        # consumed the persisted counts (released here — nothing will
        # read them again), and future consumers read the compact
        # parquet, not the re-derived plan
        counts.unpersist()
        return spark.read.parquet(lm_dir), oov_logp
    return lm, oov_logp


def perplexity_scores(
    docs: DataFrame,
    lm: DataFrame,
    oov_logp: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-document unigram cross-entropy / perplexity against a
    reference LM from :func:`unigram_logprobs`. Returns (id,
    n_tokens, cross_entropy, ppl).

    Determinism contract: per-token logp is pre-quantized (see
    :func:`unigram_logprobs`) and summed as DECIMAL — exact and
    order-independent, the same trick the money aggregates use — so
    the scores hash-match the SQL oracle.

    100 TB shape: the LM is vocabulary-sized → broadcast hash join
    onto the exploded tokens, one partial-agg shuffle per doc id."""
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    per = (
        toks.join(F.broadcast(lm), "token", "left")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.coalesce(F.col("logp"), F.lit(oov_logp)).cast(
                    "decimal(20,6)"
                )
            ).alias("_slp"),
            F.count("*").alias("n_tokens"),
        )
    )
    ce = trunc6(-F.col("_slp").cast("double") / F.col("n_tokens"))
    return per.select(
        F.col(id_col),
        "n_tokens",
        ce.alias("cross_entropy"),
        trunc6(F.exp(ce)).alias("ppl"),
    )


#: Score frames the approx bucket path persisted (the thresholds
#: collect and the returned frame share them); release with
#: :func:`release_ppl_caches` once the bucketed output is written.
_PPL_PERSISTED: list[DataFrame] = []


def release_ppl_caches() -> int:
    """Unpersist score frames previous approx-path
    :func:`perplexity_buckets` calls cached; returns the count."""
    n = len(_PPL_PERSISTED)
    while _PPL_PERSISTED:
        _PPL_PERSISTED.pop().unpersist()
    return n


def _bucket_names(n_buckets: int) -> list[str]:
    return (
        ["head", "middle", "tail"]
        if n_buckets == 3
        else [f"b{i}" for i in range(1, n_buckets + 1)]
    )


def perplexity_bucket_thresholds(
    scored: DataFrame, n_buckets: int, accuracy: int = 10_000
) -> list[float]:
    """The ``n_buckets - 1`` interior perplexity quantile boundaries
    from ONE ``approx_percentile`` aggregate pass (Greenwald-Khanna
    sketch — partial-aggregated map-side, only O(accuracy) sketch
    state crosses the final exchange, never rows). ``accuracy`` is
    Spark's 1/eps knob: rank error ≤ n/accuracy."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    row = scored.agg(
        F.percentile_approx(
            "ppl", F.array(*[F.lit(p) for p in probs]), accuracy
        ).alias("t")
    ).collect()[0]
    return list(row["t"])


def perplexity_buckets(
    docs: DataFrame,
    lm: DataFrame,
    oov_logp: float,
    text_col: str,
    id_col: str,
    n_buckets: int = 3,
    method: str = "auto",
    exact_max_rows: int = 100_000,
    accuracy: int = 10_000,
) -> DataFrame:
    """:func:`perplexity_scores` plus the CCNet corpus split: equal
    ``n_buckets`` perplexity buckets (3 → head/middle/tail; head =
    closest to the reference distribution).

    Two bucket-assignment paths (round 11, VERDICT r10 #2):

    - ``method='exact'``: ntile over the total order (ppl, id) —
      bit-deterministic and what a SQL oracle re-derives, but the
      window has no partition key, so it funnels every scored doc
      through ONE task. Fixture/oracle scale only.
    - ``method='approx'``: the production path — bucket THRESHOLDS
      from one ``approx_percentile`` pass (only sketch state crosses
      the final exchange), then a MAP-SIDE literal comparison chain
      assigns buckets: no window, no sort, no single-partition
      exchange anywhere in the assignment. Same split modulo sketch
      rank error ≤ n/``accuracy`` at the boundaries (interior docs
      bucket identically; only ties/near-boundary docs can differ
      from the exact ntile).
    - ``method='auto'`` (default): one cheap ``docs`` count picks
      'exact' at/below ``exact_max_rows`` (keeps cross-engine oracle
      parity at fixture scale) and 'approx' above — the size guard
      that stops the single-task sort from ever running at corpus
      scale."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    scored = perplexity_scores(docs, lm, oov_logp, text_col, id_col)
    names = _bucket_names(n_buckets)
    if method not in ("auto", "exact", "approx"):
        raise ValueError(f"unknown method: {method!r}")
    if n_buckets == 1:
        # degenerate split: everything is the one bucket. Short-
        # circuit BEFORE the approx path — percentile_approx over an
        # empty percentage array yields NULL thresholds and a
        # TypeError (ADVICE r11); the constant label needs no pass.
        return scored.withColumn("ppl_bucket", F.lit(names[0]))
    if method == "auto":
        # the guard measures what the ntile would sort: one doc row
        # per input doc — count the cheap pre-explode side
        method = "exact" if docs.count() <= exact_max_rows else "approx"
    if method == "exact":
        from pyspark.sql import Window

        tile = F.ntile(n_buckets).over(Window.orderBy("ppl", id_col))
        label = F.when(tile == 1, names[0])
        for i in range(2, n_buckets + 1):
            label = label.when(tile == i, names[i - 1])
        return scored.withColumn("ppl_bucket", label)
    # the threshold pass and the returned frame both read the scores:
    # persist once (CCNet materializes scores anyway — doc-count-sized,
    # tiny next to the corpus). Tracked for release like curation's
    # stage boundaries.
    scored = scored.persist()
    _PPL_PERSISTED.append(scored)
    thresholds = perplexity_bucket_thresholds(scored, n_buckets, accuracy)
    # map-side: bucket k iff ppl <= t_k (first match), tail otherwise
    label = F.when(F.col("ppl") <= thresholds[0], names[0])
    for i, t in enumerate(thresholds[1:], start=1):
        label = label.when(F.col("ppl") <= t, names[i])
    label = label.otherwise(names[-1])
    return scored.withColumn("ppl_bucket", label)
