"""Deduplication operators (SURVEY.md §2 C1/C2) — exact, MinHash-LSH,
SimHash, and n-gram Jaccard near-dup detection over a document column.

Scale design (the whole point of these shapes):
- Exact dedup is a hash aggregate — one shuffle on the content hash.
- Near-dup NEVER does all-pairs. MinHash-LSH shuffles O(docs × bands)
  tiny band keys; only same-bucket candidates are verified. SimHash
  bands 64 bits into chunks the same way. All signature math is
  built-in Spark expressions (xxhash64, transform, aggregate) — fully
  whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C1 exact dedup: keep the lowest-id row per identical content.

    Uses a sha2-256 content hash as the shuffle key (cheap, fixed
    width, collision-safe at any scale) + keep-first window.
    """
    h = F.sha2(F.col(text_col), 256)
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_by_key(
    df: DataFrame, key_col, id_col: str
) -> DataFrame:
    """Exact dedup on an arbitrary key column/expression (round 12,
    VERDICT r11 #3): keep the lowest-id row per non-NULL key value —
    the RefinedWeb/FineWeb URL-level dedup shape when fed
    :func:`normalize_url`, and the general normalized-key dedup
    convenience otherwise. NULL-key rows all pass through (no key =
    nothing to collide on).

    Scale shape: identical to :func:`exact_dedup` — one shuffle on
    the key, keep-first window planning as WindowGroupLimit (each
    upstream partition forwards one candidate per key before the
    exchange). NULL keys are spread by id into singleton window
    groups so a corpus where most rows lack the key never funnels
    them into one hot partition.
    """
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    # NULL-key rows: partition additionally by id -> singleton groups
    # (rank 1 by construction), so they pass through without ever
    # colliding with each other or skewing one task
    null_spread = F.when(k.isNull(), F.col(id_col))
    w = Window.partitionBy(k, null_spread).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


#: One EXPLICIT whitespace class instead of ``\s``: Java's ``\s`` is
#: ``[ \t\n\x0B\f\r]`` while RE2's excludes ``\x0B`` (vertical tab),
#: so the shorthand would let the same line normalize differently in
#: the operator vs the DuckDB oracle. Both builders below splice this
#: single definition.
_WS_CLASS = "[ \\t\\n\\x0B\\f\\r]+"


def normalize_line(col) -> F.Column:
    """The paragraph normalization line-level dedup hashes on
    (CCNet's recipe, Wenzek et al. 2020 §3.1, simplified to the
    portable core): lowercase + collapse runs of whitespace + trim.
    Shares ``_WS_CLASS`` with :data:`NORMALIZE_LINE_SQL` so the Spark
    path and the SQL oracle can never drift."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.trim(F.regexp_replace(F.lower(c), _WS_CLASS, " "))


NORMALIZE_LINE_SQL = (
    "trim(regexp_replace(lower({expr}), '" + _WS_CLASS + "', ' ', 'g'))"
)


def dedupe_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    mode: str = "keep_first",
    drop_empty: bool = True,
) -> DataFrame:
    """Line/paragraph-level dedup across the corpus — the CCNet
    boilerplate-removal step (Wenzek et al. 2020 §3.1: duplicated
    paragraphs are overwhelmingly boilerplate — headers, cookie
    banners, share buttons — and removing them cleans documents that
    whole-doc dedup would keep verbatim).

    Each document splits into lines on ``sep``; blank-normalizing
    lines are dropped; the corpus then deduplicates on the NORMALIZED
    line (:func:`normalize_line`) while every kept document
    reassembles its surviving ORIGINAL lines in order.

    ``sep`` is a split REGEX but a literal JOIN separator — the
    default newline behaves identically in both roles; a regex
    metacharacter separator (e.g. ``'.'``) needs escaping on the
    split side and is not round-trippable here.

    ``mode='keep_first'`` (default): one occurrence of each distinct
    line survives — the lowest ``(id, position)``, the deterministic
    analog of cc_net's first-seen hash set. ``mode='drop_all'``:
    every line whose corpus count exceeds 1 is removed from ALL
    documents — the harsher variant that kills boilerplate even at
    its first site.

    Returns ``(id_col, text_col, n_lines)`` — documents whose lines
    were all removed are dropped unless ``drop_empty=False`` (then
    they return with empty text and ``n_lines = 0``). ``id_col`` is a
    KEY: rows sharing an id have their lines pooled into ONE output
    document (the groupBy), and the ``drop_empty=False`` re-attach
    deduplicates the id spine so duplicate input ids still yield one
    output row each (round 15, VERDICT r14) — callers wanting
    per-row identity must disambiguate ids first.

    Scale shape: keep_first is one shuffle on the sha2 line hash with
    rank-1 keep-first (WindowGroupLimit — each upstream partition
    forwards one candidate per line, so a boilerplate line in half
    the corpus never funnels into one task), plus the per-document
    reassembly shuffle (groups are document-sized). drop_all is a
    partial-agg count + an equi-join back on the hash — the hot
    boilerplate key relies on AQE's skew-join split, documented
    tradeoff vs keep_first's group-limit.
    """
    if mode not in ("keep_first", "drop_all"):
        raise ValueError("mode must be 'keep_first' or 'drop_all'")
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias(
                "_pos", "_line"
            ),
        )
        .withColumn("_h", F.sha2(normalize_line(F.col("_line")), 256))
        .filter(normalize_line(F.col("_line")) != "")
    )
    if mode == "keep_first":
        # _line as the final key: duplicate input ids (supported,
        # pooled — see above) can place two RAW-different but
        # normalize-equal lines at the same (id, pos); without the
        # tiebreaker row_number falls back to partition arrival
        # order and the surviving original text is nondeterministic
        # (round-15 review)
        w = Window.partitionBy("_h").orderBy(
            F.col(id_col), F.col("_pos"), F.col("_line")
        )
        kept = (
            lines.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        counts = lines.groupBy("_h").agg(F.count("*").alias("_c"))
        kept = lines.join(counts, "_h").filter(F.col("_c") == 1).drop("_c")
    out = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda x: x["_line"],
            ),
            sep,
        ).alias(text_col),
    ).select(id_col, text_col, "n_lines")
    if drop_empty:
        return out
    return (
        # dropDuplicates: the spine must be one row per id — without
        # it a duplicate input id silently multiplies every output
        # row it matches (round 15, VERDICT r14)
        df.select(id_col)
        .dropDuplicates([id_col])
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_lines"), F.lit(0).cast("long")).alias(
                "n_lines"
            ),
        )
    )


#: The URL normalization chain, shared by the Spark and SQL builders
#: below so the two can never drift (the cross-engine oracle depends
#: on them being the SAME chain): (pattern, replacement) pairs in
#: application order. RE2∩Java regex subset, no group references in
#: replacements; SQL string literals keep backslashes verbatim (no
#: doubling) and none of the patterns contain quotes.
_URL_STEPS: list[tuple[str, str]] = [
    ("^https?://", ""),
    ("^www\\.", ""),
    ("#.*$", ""),
    # canonicalize the ?-separator so param removal needs one pattern
    ("\\?", "&"),
    ("&(utm_[a-z0-9_]+|fbclid|gclid|msclkid|mc_eid|ref)=[^&]*", ""),
    ("&&+", "&"),
    ("[&/]+$", ""),
]


def normalize_url(col) -> F.Column:
    """Canonical URL dedup key (round 12, VERDICT r11 #3 — the
    RefinedWeb/FineWeb URL normalization recipe): lowercase, scheme
    and ``www.`` stripped, fragment stripped, tracking query
    parameters (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``,
    ``mc_eid``, ``ref``) removed, query separators canonicalized to
    ``&`` (the key identifies a document, it need not stay
    fetchable), trailing ``&``/``/`` stripped.

    A key that normalizes to the EMPTY string (blank, whitespace, or
    scheme-only URLs — '' after stripping) becomes NULL: "no usable
    URL" must behave like a missing URL, passing through
    :func:`dedup_by_key`'s NULL path instead of collapsing every
    blank-URL document into one dedup group.

    Pure chained ``regexp_replace`` over the shared ``_URL_STEPS``
    chain — zero shuffle, whole-stage-codegen'd, and re-derivable
    verbatim in DuckDB via :func:`normalize_url_sql` (the oracle
    contract; same discipline as text.redact_pii).
    """
    c = col if isinstance(col, F.Column) else F.col(col)
    u = F.lower(F.trim(c))
    for pat, rep in _URL_STEPS:
        u = F.regexp_replace(u, pat, rep)
    return F.nullif(u, F.lit(""))


#: the same normalization as ANSI/DuckDB SQL text over a column
#: expression — built from the SAME ``_URL_STEPS`` chain as
#: :func:`normalize_url`, so the Spark key and the oracle key are
#: provably identical
def normalize_url_sql(expr: str) -> str:
    out = f"lower(trim({expr}))"
    for pat, rep in _URL_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return f"nullif({out}, '')"


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column (JVM-side)."""
    words = F.split(F.col(text_col), r"\s+")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic odd multipliers + offsets for the affine MinHash
    family h_i(x) = a_i·x + b_i (mod 2^64, via Java long wraparound)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


#: Mersenne prime 2^31-1. With h, a, b < p the product stays < 2^62
#: (no int64 overflow — ANSI-safe, Spark 4 enables ANSI by default)
#: while (a·h+b) mod p wraps ~2^31 times — a genuinely mixing
#: universal family. A near-2^63 modulus would wrap ≤3 times, leaving
#: the transform mostly monotone in h: every lane then picks the same
#: globally-min shingle and the signatures are perfectly correlated
#: (observed: est≈0.72 for pairs with true Jaccard 0.01).
_MERSENNE_31 = (1 << 31) - 1


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the docs to the session's default parallelism when
    they arrive in fewer partitions. The sketch fronts (shingle
    explode + per-shingle hashing + k partial-min/vote aggregates)
    are the expensive MAP side of the pipeline and run at the INPUT's
    partitioning — a small parquet (or a union of a few files) lands
    in 1-2 partitions and serializes the whole sketch computation on
    1-2 cores while the rest of the machine idles (measured 1.9× on
    the registered c2 query at sf0.1). The repartition shuffles raw
    text bytes once — strictly cheaper than leaving 90% of cores
    idle. At scale the guard keeps it a no-op: a 100 TB corpus
    already has orders of magnitude more partitions than cores, and
    repartitioning it would shuffle the full corpus for nothing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: Portable (cross-engine re-derivable) sketch-lane hashing — round
#: 15, VERDICT r14 #3, the decontam ``hashed=False`` precedent made
#: total: with ``portable=True`` the sketch fronts swap xxhash64
#: (JVM-only) for the sampling.det_hash 60-bit construction — first
#: 15 hex chars of sha256 parsed as a BIGINT — which DuckDB computes
#: bit-identically (``CAST('0x' || substr(sha256(x), 1, 15) AS
#: BIGINT)``, the parity proven by the split/sample oracles since
#: round 7). Everything DOWNSTREAM of the lane inputs (affine folds
#: mod 2^31-1, vote folds, banding, hamming) is pure integer/IEEE
#: arithmetic both engines evaluate identically, so the FULL pair
#: set becomes re-derivable in ANSI SQL. Production default stays
#: xxhash64 (sha256 is a cryptographic hash; interleaved A/B at
#: sf0.1: full pairs pipeline 2.39 → 4.38 s min, 1.8× — SCALE.md);
#: portable mode exists for oracle parity and audit re-derivation.
#: NULL word-hash slots (shingles reaching past a
#: short doc's end) keep NULL semantics via the det_hash sentinel
#: discipline: unit-separator join + chr(30) for NULL (sampling.py).
_PORTABLE_WORD_HASH_SQL = (
    "cast(conv(substr(sha2(w, 256), 1, 15), 16, 10) as bigint)"
)


def _word_front(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _w array<string>): the whitespace tokens of each non-NULL
    text, spread over the session's cores (see _spread).

    NULL-text rows are FILTERED — the exact semantics of the r12
    explode+groupBy fronts this replaced (explode of a NULL array
    emits nothing, so a NULL-text doc had no signature row and joined
    no pairs). Without the filter the per-doc folds would emit
    _fp=0 / all-NULL signatures for every NULL-text doc, banding them
    all into one bucket as mutual hamming-0 "duplicates" (round-13
    review finding)."""
    from timescale_cdc_spark.functions.ident import sql_ident

    # sql_ident everywhere a caller name is referenced: a name with a
    # dot otherwise parses as a struct-field reference (pinned by
    # test_expr_string_operators_quote_column_names)
    return (
        _spread(
            df.filter(F.expr(f"{sql_ident(text_col)} IS NOT NULL"))
        )
        .select(
            F.expr(sql_ident(id_col)).alias("_id"),
            F.expr(rf"split({sql_ident(text_col)}, '\\s+')").alias("_w"),
        )
    )


def _word_hash_front(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    """(_id, _hw array<bigint>): one hash per whitespace token,
    duplicates preserved (simhash weights votes by term frequency;
    minhash's min is duplicate-insensitive). xxhash64 by default; the
    60-bit sha256 fold with ``portable=True`` (see
    ``_PORTABLE_WORD_HASH_SQL`` — bits 60-63 are then always zero,
    which downstream folds inherit identically in both engines). The
    array lives in its own select — CollapseProject keeps a non-cheap
    expression referenced more than once materialized (SPARK-36718),
    so the k sketch lanes downstream never re-split the text. NULL
    texts are dropped (see _word_front)."""
    word_hash = _PORTABLE_WORD_HASH_SQL if portable else "xxhash64(w)"
    return _word_front(df, text_col, id_col).select(
        "_id", F.expr(f"transform(_w, w -> {word_hash})").alias("_hw")
    )


def _shingle_hash_sql(shingle_n: int, portable: bool = False) -> str:
    """SQL for the per-doc shingle-hash array over ``_hw``: combine n
    consecutive word hashes per position (measured 8× faster than
    concat_ws string shingles), masked to the full 31 low bits.
    Masking with _MERSENNE_31 - 1 (0x7FFFFFFE) would zero bit 0 of
    every hash, making h and h|1 always collide and halving the
    effective hash space.

    try_element_at, not element_at: docs shorter than ``shingle_n``
    index past the word-hash array, which must yield NULL (xxhash64
    skips NULL args) under ANSI mode too — element_at would throw
    there, and freq.py already hardens its folds the same way
    (ADVICE r13).

    ``portable=True`` combines with the det_hash sha256 construction
    instead of xxhash64 (see ``_PORTABLE_WORD_HASH_SQL``): the n word
    hashes are cast to strings, NULL slots become the chr(30)
    sentinel, unit-separator-joined — exactly sampling.det_hash's
    identity-string discipline, so DuckDB re-derives every shingle
    hash bit-equal. (The xxhash64 NULL-skip means a past-the-end
    suffix degrades to hashing fewer args; the sentinel keeps the
    same property — only suffix positions can be NULL — while staying
    expressible cross-engine.)"""
    if portable:
        parts = ", ".join(
            f"coalesce(cast(try_element_at(_hw, i+{j + 1}) as string), "
            "chr(30))"
            for j in range(shingle_n)
        )
        combine = (
            f"cast(conv(substr(sha2(concat_ws(chr(31), {parts}), 256), "
            f"1, 15), 16, 10) as bigint)"
        )
    else:
        shingle_args = ", ".join(
            f"try_element_at(_hw, i+{j + 1})" for j in range(shingle_n)
        )
        combine = f"xxhash64({shingle_args})"
    return (
        f"transform(sequence(0, greatest(size(_hw) - {shingle_n}, 0)), "
        f"i -> {combine} & {_MERSENNE_31}L)"
    )


def _sig_lanes_sql(num_hashes: int) -> str:
    """SQL for the k-lane MinHash signature over ``_hs``: each lane is
    a zero-allocation aggregate() fold taking the min affine transform.
    The element_at calls here are over the LITERAL (a, b) parameter
    arrays indexed by sequence(1, k) — always in range, never NULL;
    the fold matches the agg-min it replaced because the init value
    _MERSENNE_31 dominates every (h*a+b)%p term (ADVICE r13 corrected
    an earlier comment that claimed least() was skipping NULLs).

    The k lanes are a SQL-side transform() loop over literal (a, b)
    parameter arrays, not k unrolled expression strings: unrolled, the
    64-lane text is ~10 KB and its parse + analysis is pure
    per-invocation driver overhead (the r13 profile measured ~0.45 s
    of build time per sketch call, a fifth of the whole query); the
    loop form is ~1 KB, parses once, and evaluates the same folds.

    The whole loop is wrapped in ``CASE WHEN size(_hs) >= 0`` — a
    tautology (_hs is never NULL here: NULL texts are filtered and
    transform() of a non-null array is non-null) whose ONLY purpose is
    to reference ``_hs`` a second time. With a single textual
    reference CollapseProject inlines the producing Project into this
    one (non-cheap expressions referenced once are fair game), and the
    inlined shingle-hash pipeline then re-evaluates INSIDE the k-lane
    lambda — the full sha256/xxhash shingle array recomputed PER LANE,
    a 64× blowup measured at ~70 s of executor CPU on the sf0.1
    portable corpus (round 15; the r13 "own select" note assumed
    multi-reference semantics that only hold for the 3-way shingle
    consumer, not this single-reference fold). Two references keep the
    producer materialized: plan shows 3 Projects (hw → hs → sig), the
    fold reads the attribute."""
    params = _affine_params(num_hashes)
    a_lit = "array(" + ", ".join(f"{a}L" for a, _ in params) + ")"
    b_lit = "array(" + ", ".join(f"{b}L" for _, b in params) + ")"
    return (
        f"CASE WHEN size(_hs) >= 0 THEN "
        f"transform(sequence(1, {num_hashes}), i -> "
        f"aggregate(_hs, {_MERSENNE_31}L, (acc, h) -> least(acc, "
        f"(h * element_at({a_lit}, i) + element_at({b_lit}, i)) "
        f"% {_MERSENNE_31}L))) END"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures: (_id, _sig array<bigint> of length k).

    ZERO-shuffle shape (round 13 — profiled against the r12
    explode + groupBy(id) formulation): the per-doc signature is a
    pure function of the doc's own shingle set, so it never needed a
    shuffle at all — materialize the word-hash array, derive the
    shingle-hash array, then k aggregate() folds (min of the affine
    transform) per doc, all inside ONE map stage. Bit-identical to the
    aggregate formulation (pinned in tests) while deleting the
    exchange + partial/final agg pair; the r12 shape cost a shuffle of
    k longs per doc plus two agg stages, this costs nothing but the
    map work itself. Interleaved A/B at sf0.1: pairs pipeline
    2.15 s → 1.62 s (−25%).

    Expression construction uses F.expr strings, not nested Column
    ops: the k-lane loops cost hundreds of py4j round-trips as Column
    trees (~1.6 s of fixed per-query overhead) but one JVM parse as
    SQL text (~0.3 s) — same expressions, bit-identical signatures.
    Each intermediate array gets its own select so CollapseProject
    keeps it materialized instead of re-deriving it per lane (a naive
    per-lane transform() re-evaluates the shingle expression k times,
    measured 250× slower).
    """
    hs = _word_hash_front(df, text_col, id_col, portable).select(
        "_id", F.expr(_shingle_hash_sql(shingle_n, portable)).alias("_hs")
    )
    return hs.select("_id", F.expr(_sig_lanes_sql(num_hashes)).alias("_sig"))


def _banded_candidates(
    banded: DataFrame,
    key_cols: list[str],
    payload: str,
    max_bucket: int | None,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, pa, pb) from a banded/bucketed
    frame with columns (_id, <payload>, *key_cols).

    ``max_bucket`` is the hot-bucket skew guard: a degenerate bucket of
    f docs (empty texts, template spam — every band bucket identical)
    otherwise makes ONE task emit O(f²) pairs. Buckets over the cap
    switch from all-pairs to STAR pairing — every member is paired with
    the bucket's minimum id only, O(f) pairs — so the verified pair
    graph still CONNECTS the whole cluster (downstream connected
    components / keep-canonical resolution is unaffected for mutually
    similar members). Recall effect, documented: within an over-cap
    bucket, a pair (x, y) where NEITHER verifies against the bucket
    representative is missed unless another (under-cap) band bucket
    catches it — hot buckets above any sane cap are overwhelmingly
    identical/boilerplate clusters, where star pairs all verify.
    Bucket stats (size, min id, min id's payload) are WINDOW
    aggregates over the same (band, bucket) partitioning the self-join
    shuffles on — one shared shuffle, no stats join (the original
    agg+join formulation doubled the registered query's wall-clock;
    the window rides the exchange the join needs anyway). Star pairs
    fall out of the marked frame with zero additional joins."""

    def _pairs(frame: DataFrame) -> DataFrame:
        a = frame.alias("a").hint("shuffle_hash")
        b = frame.alias("b").hint("shuffle_hash")
        cond = F.col("a._id") < F.col("b._id")
        for k in key_cols:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        return a.join(b, cond).select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col(f"a.{payload}").alias("pa"),
            F.col(f"b.{payload}").alias("pb"),
        )

    if max_bucket is None:
        return _pairs(banded).dropDuplicates(["id_a", "id_b"])
    w = Window.partitionBy(*key_cols)
    marked = (
        banded.withColumn("_bsz", F.count("*").over(w))
        .withColumn("_bmin", F.min("_id").over(w))
        .withColumn("_rep_p", F.min_by(F.col(payload), F.col("_id")).over(w))
    )
    cold = marked.filter(F.col("_bsz") <= max_bucket).select(*banded.columns)
    hot_pairs = (
        marked.filter(
            (F.col("_bsz") > max_bucket) & (F.col("_id") != F.col("_bmin"))
        )
        # rep is the bucket min, so id_a < id_b holds by construction
        .select(
            F.col("_bmin").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.col("_rep_p").alias("pa"),
            F.col(payload).alias("pb"),
        )
    )
    return _pairs(cold).unionByName(hot_pairs).dropDuplicates(["id_a", "id_b"])


def minhash_bands(
    sig: DataFrame, num_hashes: int = 64, bands: int = 16,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Band rows (_id, *carry, band, bucket) of a signature frame
    (_id, _sig, ...): one row per doc and band, bucket = xxhash64 of
    the band's ``num_hashes // bands`` signature lanes."""
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({args}) AS bucket)".format(
            b=b,
            args=", ".join(
                f"element_at(_sig, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "_id", *carry,
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select("_id", *carry, "bb.band", "bb.bucket")


def minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Banded MinHash sketch rows (_id, _sig, band, bucket) — the
    shared front half of batch LSH pairing (minhash_lsh_pairs) and the
    streaming near-dup gate's signature index
    (curation.StreamingNearDedup). bucket = xxhash64 of the band's
    signature rows, so equal buckets ⇔ equal band slices (in BOTH
    hash modes — the bucket is a pure grouping key, never re-derived
    cross-engine: an oracle joins on the band's lane TUPLE, which is
    bucket-equality modulo xxhash64 collisions)."""
    sig = minhash_signatures(
        df, text_col, id_col, shingle_n, num_hashes, portable
    )
    return minhash_bands(sig, num_hashes, bands, carry=("_sig",))


def jaccard_est_sql(sig_a: str, sig_b: str, num_hashes: int = 64) -> str:
    """SQL for the MinHash Jaccard estimate of two signature columns:
    the fraction of matching lanes. SQL text, not Column lambdas
    (round 13; see _sig_lanes_sql): one parse instead of two py4j
    lambda constructions per call."""
    return (
        f"size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), m -> m)) "
        f"/ cast({float(num_hashes)!r} as double)"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """C2 MinHash-LSH near-dup pairs.

    shingle → 64-hash MinHash signature → 16 bands × 4 rows; docs
    sharing any band bucket become candidates; candidates are verified
    with the *estimated* Jaccard (matching signature fraction). Returns
    (id_a, id_b, jaccard_est) with id_a < id_b.

    At 100 TB: the band explode emits |docs|×bands small rows; the
    bucket self-join only materializes same-bucket groups. The LSH
    S-curve (b=16, r=4 → threshold ≈ (1/16)^(1/4) ≈ 0.5) bounds the
    candidate count.

    On this lazy input, signatures ride THROUGH the band join
    (~bands × 520 B of extra shuffle weight per doc) rather than being
    re-attached to deduped pairs by id-joins afterwards: the attach
    joins made the physical plan compute the 64-lane signature
    aggregation 4× (once per band side + once per attach side —
    broadcast conversion defeats exchange reuse), and re-aggregating
    is far more expensive than the wider shuffle. A caller that
    checkpoints its features first has nothing to recompute and bands
    ids only (sketch_features; c2's sketch pairs, SCALE.md "c2 sketch
    pairs featurize once"). The shuffle_hash hints keep the
    self-join's two sides as identical shuffle exchanges (no
    one-sided broadcast build of the whole sketch pipeline), measured
    2.2× faster end-to-end.

    ``max_bucket`` guards against degenerate hot buckets (identical/
    boilerplate clusters) — see _banded_candidates for the star-pairing
    semantics and recall note.
    """
    banded = minhash_banded(
        df, text_col, id_col, shingle_n, num_hashes, bands, portable
    )
    cand = _banded_candidates(banded, ["band", "bucket"], "_sig", max_bucket)
    return (
        cand.withColumn("jaccard_est",
                        F.expr(jaccard_est_sql("pa", "pb", num_hashes)))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """C2 exact n-gram Jaccard near-dup pairs, shingle-blocked.

    Candidates = pairs sharing ≥1 shingle (explode + equi-join on the
    shingle — the blocking key), then exact |∩|/|∪| on distinct
    shingle sets. Oracle-testable (plain SQL).

    ``max_df`` caps ubiquitous-shingle fan-out — the classic quadratic
    hot-key blowup: one boilerplate shingle shared by f documents
    contributes O(f²) rows to the blocking join. With a cap, shingles
    whose document frequency exceeds ``max_df`` are excluded from the
    BLOCKING join only; the Jaccard of every surviving candidate stays
    EXACT because the pruned shingles are re-counted at verification
    (each doc carries its own tiny array of ubiquitous shingles;
    |∩| = rare-join count + |ubiq_a ∩ ubiq_b|). The only loss is
    candidate pairs sharing *only* ubiquitous shingles — near-certain
    non-matches at near-dup thresholds (standard DF-pruning). The
    global ubiquitous set is ≤ total_shingle_rows / max_df entries, so
    it broadcasts; per-task join fan-out per shingle is ≤ max_df².
    """
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    if max_df is not None:
        # Per-shingle document frequency in one map-side-combining
        # pass (shingles are distinct per doc, so count(*) == df).
        ubiq = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle", F.lit(True).alias("_ubiq"))
        )
        marked = exploded.join(F.broadcast(ubiq), "shingle", "left")
        sizes = marked.groupBy("_id").agg(
            F.count("*").alias("n"),
            # collect_list skips nulls → only this doc's ubiquitous
            # shingles; bounded by the doc's own shingle count.
            F.sort_array(
                F.collect_list(F.when(F.col("_ubiq"), F.col("shingle")))
            ).alias("ubiq_arr"),
        )
        blocking = marked.filter(F.col("_ubiq").isNull()).select("_id", "shingle")
    else:
        sizes = exploded.groupBy("_id").agg(F.count("*").alias("n"))
        blocking = exploded
    # |A∩B| falls out of the blocking join itself (shingles are
    # distinct per doc), so Jaccard = common/(na+nb-common) needs no
    # per-pair array materialization — the join + one pair-count
    # aggregate is the entire cost.
    inter = (
        blocking.alias("a")
        .hint("shuffle_hash")
        .join(
            blocking.alias("b").hint("shuffle_hash"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    from timescale_cdc_spark.operators.text import trunc6

    if max_df is not None:
        sa = sizes.select(
            F.col("_id").alias("id_a"),
            F.col("n").alias("na"),
            F.col("ubiq_arr").alias("ubiq_a"),
        )
        sb = sizes.select(
            F.col("_id").alias("id_b"),
            F.col("n").alias("nb"),
            F.col("ubiq_arr").alias("ubiq_b"),
        )
        # exact |∩|: rare common (from the join) + ubiquitous common
        common = F.col("n_common") + F.size(
            F.array_intersect("ubiq_a", "ubiq_b")
        )
    else:
        sa = sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb"))
        common = F.col("n_common")

    jaccard = common / (F.col("na") + F.col("nb") - common)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jaccard >= threshold)
        .select("id_a", "id_b", trunc6(jaccard).alias("jaccard"))
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64 (or the 60-bit
    portable hash — bits 60-63 then vote all-negative and stay zero
    in every fingerprint, identically cross-engine), each bit votes
    ±1 (term-frequency weighted — duplicate tokens vote again), sign
    of the per-bit vote sum is the fingerprint bit.

    ZERO-shuffle shape (round 13, same move as minhash_signatures):
    the fingerprint is a pure per-doc function, so the r12
    explode + groupBy(id) shuffle is replaced by 64 aggregate() folds
    over the doc's own token-hash array inside one map stage —
    bit-identical, one exchange and two agg stages cheaper
    (interleaved A/B at sf0.1: pairs pipeline 1.96 s → 1.70 s).
    Returns (_id, _fp)."""
    return _word_hash_front(df, text_col, id_col, portable).select(
        "_id", F.expr(f"({_fp_sql()}) AS _fp")
    )


def _fp_sql() -> str:
    """SQL for the 64-bit SimHash fingerprint over ``_hw``: a SQL-side
    fold over the 64 bit positions (compact text, one parse — see
    _sig_lanes_sql on why the unrolled 64-term form was replaced), each
    position's vote itself a fold over the token hashes. Bit 63 is the
    sign bit: shiftleft(1L, 63) wraps to Long.MIN_VALUE, exactly the
    -(1<<63) literal the unrolled form used.

    Wrapped in the same tautological ``CASE WHEN size(_hw) >= 0``
    double-reference guard as _sig_lanes_sql: referenced once, the
    word-hash Project collapses into this fold and the full per-token
    hash array is recomputed for EVERY one of the 64 bit positions (a
    64× map-CPU blowup; see _sig_lanes_sql for the measurement)."""
    return (
        "CASE WHEN size(_hw) >= 0 THEN "
        "aggregate(sequence(0, 63), 0L, (fp, j) -> fp | "
        "(CASE WHEN aggregate(_hw, 0L, (acc, h) -> acc + "
        "CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        "THEN shiftleft(1L, j) ELSE 0L END)) END"
    )


def sketch_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    portable: bool = False,
) -> DataFrame:
    """One feature row per document, (_id, _sig, _fp, sh, tk): the
    MinHash signature (as in minhash_signatures), the SimHash
    fingerprint (as in simhash_fingerprints), and the distinct 64-bit
    xxhash64 shingle (``sh``) and token (``tk``) sets that exact
    Jaccard verification reads. Built for callers that checkpoint it
    once, band ids only (minhash_bands with no carried column), pair
    the 8-byte fingerprints (simhash_fp_pairs), then attach the array
    features to the candidate pairs once.

    Each text is split once. The production lanes hash each word once
    with xxhash64 and share those hashes between the sketches and the
    verify sets; the sketch shingle hash is the verify shingle hash
    masked to 31 bits, so each shingle is hashed once too. Portable
    lanes hash the words twice from the same split: with the sha256
    construction for the sketches (which the oracle re-derives) and
    with xxhash64 for the verify sets. The verify hashes are UNMASKED
    64-bit: at ~400 distinct shingles per pair the 31-bit space gives
    ~4e-5 collision odds per pair, 64-bit ~4e-15."""
    if portable:
        front = _word_front(df, text_col, id_col).select(
            "_id",
            F.expr(f"transform(_w, w -> {_PORTABLE_WORD_HASH_SQL})").alias("_hw"),
            F.expr("transform(_w, w -> xxhash64(w))").alias("_xw"),
        )
        verify_w, hs = "_xw", _shingle_hash_sql(shingle_n, portable=True)
    else:
        front = _word_hash_front(df, text_col, id_col)
        verify_w, hs = "_hw", f"transform(_s64, h -> h & {_MERSENNE_31}L)"
    args = ", ".join(
        f"try_element_at({verify_w}, i+{j + 1})" for j in range(shingle_n)
    )
    # each intermediate array in its own Project, referenced twice
    # downstream, so CollapseProject keeps it materialized (see
    # _sig_lanes_sql)
    return (
        front.withColumn(
            "_s64",
            F.expr(
                f"transform(sequence(0, greatest(size({verify_w}) - "
                f"{shingle_n}, 0)), i -> xxhash64({args}))"
            ),
        )
        .withColumn("_hs", F.expr(hs))
        .select(
            "_id",
            F.expr(_sig_lanes_sql(num_hashes)).alias("_sig"),
            F.expr(_fp_sql()).alias("_fp"),
            F.array_distinct("_s64").alias("sh"),
            F.array_distinct(verify_w).alias("tk"),
        )
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """C2 SimHash near-dup pairs: fingerprint, band the 64 bits into
    ``chunks`` 16-bit keys (pigeonhole: hamming ≤ 3 ⇒ at least one of
    4 chunks identical), equi-join per chunk, verify hamming via
    bit_count(xor). Returns (id_a, id_b, hamming).

    Both join sides stay shuffle exchanges (shuffle_hash inside
    _banded_candidates) — a one-sided broadcast would rebuild the whole
    fingerprint aggregation as a separate broadcast pipeline (see
    minhash_lsh_pairs for the measured effect). ``max_bucket`` is the
    hot-bucket skew guard (star pairing; see _banded_candidates)."""
    fp = simhash_fingerprints(df, text_col, id_col, portable)
    return simhash_fp_pairs(fp, max_hamming, chunks, max_bucket)


def simhash_fp_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) of a fingerprint frame (_id, _fp, ...):
    the 64 bits cut into ``chunks`` keys of ``64 // chunks`` bits, one
    row per doc and chunk carrying its 8-byte fingerprint through the
    chunk join, verified by bit_count(xor) before anything else joins
    the pair."""
    width = 64 // chunks
    chunk_structs = ", ".join(
        f"struct({c} AS chunk, "
        f"shiftright(_fp, {c * width}) & {(1 << width) - 1}L AS key)"
        for c in range(chunks)
    )
    banded = fp.select(
        "_id",
        "_fp",
        F.explode(F.expr(f"array({chunk_structs})")).alias("ck"),
    ).select("_id", "_fp", "ck.chunk", "ck.key")
    cand = _banded_candidates(banded, ["chunk", "key"], "_fp", max_bucket)
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
