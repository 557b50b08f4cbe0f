"""Text-analysis operators for the documents table (charter §2.12).

Language-ID (marker-word heuristic), quality scoring, token counting,
and document fingerprinting — all pure Catalyst expressions (no Python
UDFs: these run inside whole-stage codegen and scale embarrassingly —
per-row work, zero shuffles).

Cross-engine determinism: everything here is also expressible in ANSI
SQL so the DuckDB oracle can verify it; the shared 32-bit hash is the
first 8 hex digits of md5 (``hash32``), identical in any engine with
md5 + hex parsing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# BPE-ish token pattern: letter runs, digit runs, or single punctuation
# (the public GPT-2-style pre-tokenizer shape, simplified to ASCII so
# Java and RE2 regex engines agree).
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Tiny per-language marker lexicons (public stopword lists, truncated).
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
    "de": ["der", "die", "das", "und", "ist"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash32(col: Column) -> Column:
    """Shared 32-bit hash: first 8 hex digits of md5, as a long.

    Engine-portable (DuckDB: ``CAST('0x' || substr(md5(x),1,8) AS
    BIGINT)``), deterministic, uniform — the primitive under minhash /
    simhash / LSH banding.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace — the canonical form for exact
    fingerprinting."""
    return F.regexp_replace(F.trim(F.lower(_c(col))), "\\s+", " ")


def fingerprint(col: Column | str) -> Column:
    """Exact-dup document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def whitespace_tokens(col: Column | str) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(F.trim(_c(col)), "\\s+")


def token_count(col: Column | str) -> Column:
    return F.size(whitespace_tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count via the TOKEN_RE pattern."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(TOKEN_RE), 0))


def stopword_count(col: Column | str, words: list[str]) -> Column:
    pat = "\\b(" + "|".join(words) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(_c(col)), F.lit(pat), 0))


def punct_count(col: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit("[.,!?;:]"), 0))


def digit_count(col: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit("[0-9]"), 0))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: lengths, token counts, character-class
    ratios, and a deterministic quality score.

    Quality heuristic (public C4/Gopher-style filters, simplified):
    reward 50-1000 token docs and high stopword density, penalize
    punctuation/digit-heavy text. All ratios are exact rationals
    computed in decimal-free integer space then one final double
    division — engine-stable.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tok = token_count(t)
    en_stops = stopword_count(t, LANG_MARKERS["en"])
    n_punct = punct_count(t)
    n_digit = digit_count(t)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        n_punct.alias("n_punct"),
        n_digit.alias("n_digits"),
        en_stops.alias("n_stopwords"),
        # integer-scaled rounding (ties of small-denominator rationals
        # round identically across engines; see dedup_fuzzy jaccard note)
        (F.round(n_punct * F.lit(1000000.0) / n_chars) / 1000000.0).alias(
            "punct_ratio"
        ),
        (F.round(en_stops * F.lit(1000000.0) / n_tok) / 1000000.0).alias(
            "stopword_ratio"
        ),
        (
            F.when((n_tok >= 50) & (n_tok <= 1000), F.lit(1)).otherwise(F.lit(0))
            + F.when(en_stops * 20 >= n_tok, F.lit(1)).otherwise(F.lit(0))
            + F.when(n_punct * 10 <= n_chars, F.lit(1)).otherwise(F.lit(0))
            + F.when(n_digit * 5 <= n_chars, F.lit(1)).otherwise(F.lit(0))
        ).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic -> predicted language code.

    Counts per-language marker hits and takes the argmax (ties broken
    by fixed language order; 'und' when nothing matches). N-gram
    charset checks (e.g. CJK ranges) belong here too — omitted from
    the oracled surface to keep Java/RE2 regex semantics aligned.
    """
    t = F.col(text_col)
    scores = [
        stopword_count(t, words).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = df.select("doc_id", "lang", *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best == 0, F.lit("und"))
    for l in langs:  # first language hitting the max wins (fixed order)
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select(
        "doc_id",
        "lang",
        *[F.col(f"score_{l}") for l in langs],
        pred.alias("pred_lang"),
    )


def chunk_passages(
    df: DataFrame,
    chunk_tokens: int = 50,
    overlap: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_idx, n_chunk_tokens, passage): fixed-size sliding
    token windows over each document — the retrieval/context chunking
    every RAG or packing pipeline runs before embedding. Stride is
    ``chunk_tokens - overlap``; the final chunk is allowed to be short
    (no padding, no dropped tail). A chunk never *starts* inside a
    tail the previous chunk already fully covered: once a chunk
    reaches the document end, no further starts are emitted (upper
    bound ``n - overlap - 1``), so a doc of exactly ``chunk_tokens``
    tokens yields exactly one chunk — not a redundant overlap-only
    tail.

    Pure Catalyst: tokenize once, generate start offsets with
    ``sequence`` (no UDF, no shuffle — posexplode is a narrow
    generator), slice the token array per offset. Work per row is
    O(tokens * chunks); output rows ~ n_tokens/stride per doc, which
    is the inherent output size of chunking.
    """
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = whitespace_tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    # a start at s is useful iff the previous chunk did NOT already
    # reach the doc end, i.e. s + chunk_tokens - stride < n  <=>
    # s <= n - overlap - 1 (clamped so empty docs still emit one chunk)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
    )
    chunked = base.select(
        id_col, F.posexplode(starts).alias("chunk_idx", "__start"), "__toks"
    )
    piece = F.slice(
        F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)
    )
    return chunked.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("passage"),
    )


def dedup_chunks(
    df: DataFrame,
    chunk_tokens: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_chunks, n_kept, dedup_text): sub-document exact dedup —
    the CCNet/RefinedWeb-style pass that removes REPEATED SPANS from
    otherwise-distinct documents (boilerplate headers, quoted reply
    chains, mirrored paragraphs), where document-level dedup (t3)
    keeps both copies because the docs differ elsewhere.

    Semantics: split every doc into non-overlapping ``chunk_tokens``
    token chunks (``chunk_passages`` with overlap=0 — the corpus has
    no paragraph markers, so fixed token windows are the span unit);
    a chunk SURVIVES iff it is the corpus-wide first occurrence of its
    exact text (keep-first by (doc_id, chunk_idx) — same deterministic
    rule as exact_dedup); each doc is reassembled from its surviving
    chunks in document order.

    Relational shape (scales like t3): chunk rows are narrow
    (id, idx, passage); the first-occurrence decision is row_number
    over a window partitioned by md5(passage) — ONE shuffle keyed on
    the chunk hash, so a 100 TB corpus shuffles its chunk stream once,
    never a pairwise comparison; the reassembly is one groupBy on the
    doc id. No UDFs, no driver state.
    """
    from pyspark.sql import Window

    chunks = chunk_passages(
        df, chunk_tokens=chunk_tokens, overlap=0,
        id_col=id_col, text_col=text_col,
    )
    w = Window.partitionBy(F.md5(F.col("passage"))).orderBy(id_col, "chunk_idx")
    flagged = chunks.withColumn("__rn", F.row_number().over(w))
    kept = F.col("__rn") == 1
    kept_structs = F.array_sort(
        F.collect_list(F.when(kept, F.struct("chunk_idx", "passage")))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept_structs, lambda s: s["passage"]), " "
        ).alias("dedup_text"),
    )


def ngram_dup_stats(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, total_k, distinct_k, max_k, dup_frac_k): word-k-gram
    repetition statistics per document — the Gopher/RefinedWeb-style
    repetition quality signal (a high duplicate-n-gram fraction marks
    boilerplate/spam; see PAPERS.md text-curation references).

    dup_frac = (total - distinct) / total, NULL when the doc has no
    k-grams; computed as round(ratio * 1e6) / 1e6 (the repo's exact-
    int-ratio determinism pattern — e14/t15). Relational shape:
    generate k-grams per row (narrow), explode, count per (doc, gram),
    aggregate per doc — one shuffle on the doc id, no UDFs; scales
    with corpus token count.
    """
    # token array materialized in its own projection before the k-gram
    # lambda references it — an inlined reference re-evaluates the
    # tokenize chain per gram (interpreted HOFs get no CSE; same
    # hazard as dedup_fuzzy.winnow_fingerprints, measured up to 26x)
    base = df.select(
        F.col(id_col), whitespace_tokens(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # guard: Spark's sequence(1, 0) steps DOWN to [1, 0] — a doc with
    # fewer than k tokens must yield NO grams, not two bogus ones
    grams = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )).otherwise(F.array().cast("array<string>"))
    g = base.select(F.col(id_col), F.explode(grams).alias("gram"))
    per_gram = g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    tot, dis = F.sum("c"), F.count(F.lit(1))
    return per_gram.groupBy(id_col).agg(
        tot.cast("long").alias(f"total_{k}"),
        dis.cast("long").alias(f"distinct_{k}"),
        F.max("c").cast("long").alias(f"max_{k}"),
        (F.round((tot - dis) * 1000000.0 / tot) / 1000000.0).alias(
            f"dup_frac_{k}"
        ),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: ASCII-only patterns that parse identically under Java regex (Spark)
#: and RE2 (DuckDB): no backrefs, no lookaround, explicit char classes.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails and phone numbers from a text column — the
    baseline PII pass every published training corpus runs (emails →
    ``<EMAIL>``, phones → ``<PHONE>``). Adds ``n_emails`` /
    ``n_phones`` match counts (taken BEFORE replacement) and the
    scrubbed ``out_col``.

    Pure per-row Catalyst regex — whole-stage codegen, zero shuffles,
    embarrassingly parallel at any scale. Patterns are restricted to
    the Java∩RE2 common syntax so the DuckDB oracle replays them
    verbatim; phones are redacted first so a phone inside an
    email-like token can't be double-counted."""
    t = _c(text_col)
    return df.select(
        "*",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(t, PHONE_RE, "<PHONE>"), EMAIL_RE, "<EMAIL>"
        ).alias(out_col),
    )


# ---------------------------------------------------------------------------
# Feature-hashing text embedding (hashing trick)
# ---------------------------------------------------------------------------


def hashed_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
) -> DataFrame:
    """Deterministic text -> vector via the hashing trick (feature
    hashing; Weinberger et al. ICML'09 — Spark MLlib's HashingTF with
    a signed variant): every normalized token lands in component
    ``hash32(token) % dim`` with sign from an independent hash, so
    the embedding is a pure function of the text — reproducible by
    ANY engine with md5, no vocabulary, no model file. The text-side
    twin of the embeddings table: feeds the same cosine/LSH/PQ
    near-dup operators when no learned embeddings exist.

    Returns (id, e0..e{dim-1}) signed-int components (the multiset
    token counts make it a signed term-frequency projection).

    Per-row Catalyst only: token hash + sign arrays staged once
    (HOF-staging rule), then one ``aggregate`` fold per component —
    zero shuffles at any corpus size, same plan family as
    ``simhash_table``."""
    from ..catalog import fan_out

    base = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    )
    toks = base.select(
        "id", whitespace_tokens(normalize_text(F.col("t"))).alias("__toks")
    )
    staged = toks.select(
        "id",
        F.transform(F.col("__toks"), lambda t: hash32(t)).alias("__hs"),
        F.transform(
            F.col("__toks"),
            lambda t: F.when(
                hash32(F.concat(F.lit("s|"), t)) % 2 == 0, F.lit(1)
            ).otherwise(F.lit(-1)),
        ).alias("__sg"),
    )
    pairs = staged.select("id", F.arrays_zip("__hs", "__sg").alias("__p"))

    def _comp(d: int):
        return F.aggregate(
            F.col("__p"),
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + F.when(p["__hs"] % dim == d, p["__sg"])
            .otherwise(0)
            .cast("long"),
        )

    return pairs.select(
        "id", *[_comp(d).alias(f"e{d}") for d in range(dim)]
    )


# ---------------------------------------------------------------------------
# Repeated n-gram span coverage (exact-substring dedup signal)
# ---------------------------------------------------------------------------


def dup_span_stats(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc repeated n-gram SPAN coverage — the n-gram-granular
    analog of suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token position is DUP-COVERED if any length-``n`` token window
    containing it occurs >= ``min_count`` times corpus-wide (within-
    or cross-document — memorization doesn't care which). Returns
    (id, n_tokens, n_grams, n_dup_grams, dup_covered_tokens,
    dup_fraction); a high dup_fraction doc is mostly boilerplate even
    when no single chunk boundary (t28) aligns with the repetition —
    sliding windows catch arbitrary-offset repeats that fixed chunks
    miss.

    Relational shape: one row per (doc, window start) carrying only
    (md5 hash, id, start) — the corpus-wide occurrence count is a
    window count partitioned by the gram hash, ONE shuffle of that
    narrow stream (the Spark-native stand-in for the suffix sort;
    same key discipline as dedup_chunks). Span-union coverage then
    needs NO position explode: equal-length intervals sorted by start
    overlap-chain, so covered = sum of least(n, start - lag(start))
    per doc — a lag window + groupBy on the doc id. No UDFs, no
    driver state; skew ceiling is the hottest single n-gram's count.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(normalize_text(F.col(text_col))).alias("__toks"),
    ).withColumn("n_tokens", F.size("__toks").cast("long"))
    starts = F.when(
        F.col("n_tokens") >= n,
        F.sequence(F.lit(1), (F.col("n_tokens") - n + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "id",
        F.explode(starts).alias("start"),
        F.col("__toks"),
    ).select(
        "id",
        "start",
        F.md5(
            F.array_join(F.slice(F.col("__toks"), F.col("start"), n), " ")
        ).alias("__gh"),
    )
    w_cnt = Window.partitionBy("__gh")
    dup = (
        grams.withColumn("__cnt", F.count(F.lit(1)).over(w_cnt))
        .where(F.col("__cnt") >= min_count)
        .select("id", "start")
    )
    w_doc = Window.partitionBy("id").orderBy("start")
    cov = dup.withColumn(
        "__c",
        F.coalesce(
            F.least(
                F.lit(n).cast("long"),
                (F.col("start") - F.lag("start").over(w_doc)).cast("long"),
            ),
            F.lit(n).cast("long"),
        ),
    )
    per_doc = cov.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
        F.sum("__c").cast("long").alias("dup_covered_tokens"),
    )
    stats = base.select(
        "id",
        "n_tokens",
        F.greatest(F.col("n_tokens") - n + 1, F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    return (
        stats.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias(
                "n_dup_grams"
            ),
            F.coalesce("dup_covered_tokens", F.lit(0).cast("long")).alias(
                "dup_covered_tokens"
            ),
            F.round(
                F.coalesce("dup_covered_tokens", F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.col("n_tokens"),
                6,
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Hashing-trick linear quality scorer (model-based filtering plumbing)
# ---------------------------------------------------------------------------


def quality_score_linear(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality filtering as a BROADCAST-ARTIFACT inference
    pass — the fastText/CCNet-classifier stage of a curation pipeline,
    reduced to its Spark-native plumbing: a linear model over
    hashing-trick features, where the WEIGHTS LIVE IN A TABLE that is
    broadcast-joined against the exploded token stream (exactly how a
    real trained artifact — fastText ngram weights, a distilled linear
    probe — is served at 100 TB: the model is executor-resident
    metadata, the corpus streams through one narrow shuffle on the doc
    id). Here the weight table is derived deterministically
    (hash32('w|'||bucket) % 17 - 8, integers in [-8, 8]) so ANY engine
    regenerates it and the whole inference sits under a value-hash
    oracle; swap in a real artifact by replacing ``weights`` alone.

    Returns (id, n_tokens, raw_score, score, keep): raw_score is the
    exact integer weight sum, score its per-token mean, keep the
    threshold decision (mean >= 0). Token rows are (id, bucket int) —
    narrow; the weights join is broadcast (dim rows); one groupBy on
    the doc id."""
    spark = df.sparkSession
    weights = spark.range(dim).select(
        F.col("id").cast("int").alias("bucket"),
        (
            hash32(F.concat(F.lit("w|"), F.col("id").cast("string"))) % 17
            - 8
        )
        .cast("long")
        .alias("weight"),
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            whitespace_tokens(normalize_text(F.col(text_col)))
        ).alias("__tok"),
    ).select("id", (hash32(F.col("__tok")) % dim).cast("int").alias("bucket"))
    scored = toks.join(F.broadcast(weights), "bucket").groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("weight").cast("long").alias("raw_score"),
    )
    mean = F.col("raw_score").cast("double") / F.col("n_tokens")
    return scored.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "raw_score",
        F.round(mean, 6).alias("score"),
        (mean >= 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy beyond PII regexes)
# ---------------------------------------------------------------------------


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
) -> DataFrame:
    """Quasi-identifier k-anonymity audit (Sweeney 2002): the groups
    of ``quasi_cols`` values shared by FEWER than ``k`` rows —
    exactly the rows a release would re-identify even after direct
    identifiers are redacted (t21's redact_pii removes emails/phones;
    it cannot remove the fact that a document is the only Swahili one
    from source X in a length band). Returns the violating groups
    with their sizes; the release decision (suppress, generalize the
    bucket, or accept) belongs to the caller.

    One partial-aggregated groupBy on the quasi key — (key, count)
    rows, same scale shape as any counting audit; the violating set
    is small by definition (each group < k rows)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .where(F.col("group_size") < k)
    )


def quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document curation FLAG SET — the filter-funnel complement
    to :func:`text_stats`'s scalar score: instead of "how good", it
    answers "which rules fire", so a corpus release can report the
    exact overlap structure of its filters (docs failing only
    `upper`, docs failing `short`+`stop`, ...) and tune each rule
    against its marginal removal, the way public curation reports
    (C4, Gopher, RefinedWeb appendix tables) are presented.

    Rules (all integer-space comparisons — engine-stable):
      short    — fewer than 30 whitespace tokens
      upper    — uppercase letters > 20% of characters (shoutiness)
      longword — mean raw-token length > 12 (URL/gibberish runs)
      stop     — en-stopword count * 25 < token count (low density)

    Emits ``flags`` as a semicolon-joined canonical-order string
    ('__pass__' when no rule fires) — aggregation-friendly and
    string-identical in any engine. Pure per-row projection: no
    shuffle; at 100 TB this is a map stage fused into the scan."""
    t = F.col(text_col)
    toks = whitespace_tokens(t)
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_upper = F.size(F.regexp_extract_all(t, F.lit("[A-Z]"), 0))
    en_stops = stopword_count(t, LANG_MARKERS["en"])
    f_short = n_tok < 30
    f_upper = n_upper * 5 > F.length(t)
    f_longword = sum_len > n_tok * 12
    f_stop = en_stops * 25 < n_tok
    flags = F.concat_ws(
        ";",
        F.when(f_short, F.lit("short")),
        F.when(f_upper, F.lit("upper")),
        F.when(f_longword, F.lit("longword")),
        F.when(f_stop, F.lit("stop")),
    )
    return df.withColumn(
        "flags",
        F.when(flags == "", F.lit("__pass__")).otherwise(flags),
    )


def bpe_word_freq(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 2,
    max_len: int = 20,
) -> DataFrame:
    """(word, freq): the distinct-word frequency table BPE training
    actually iterates over. This is THE scale lever of corpus-level
    tokenizer training: the corpus is touched exactly once (tokenize +
    one shuffle to count), and every merge step after that works on
    VOCABULARY-sized data weighted by freq — at 100 TB the vocab is
    millions of rows where the corpus is trillions. Words are
    lowercased a-z runs, length-bounded so per-word unrolling stays
    O(max_len)."""
    words = df.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("word")
    )
    return (
        words.where(
            (F.length("word") >= min_len) & (F.length("word") <= max_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def bpe_merge_step(wf: DataFrame) -> DataFrame:
    """ONE training step of byte-pair encoding over a (word, freq)
    table: count adjacent symbol pairs weighted by freq, pick the
    most frequent pair (count desc, then lexicographic — the
    deterministic tiebreak), apply it LEFTMOST-NON-OVERLAPPING to
    every word, and return the post-merge pair counts
    (left_sym, right_sym, cnt, merged_left, merged_right).

    Leftmost-non-overlapping is the subtle part: in 'aaa' the pair
    (a,a) merges once, yielding ['aa','a'] — overlapping matches are
    only possible when left == right, in which case consecutive
    match positions form runs and every OTHER position merges. That
    run-parity rule ((i - run_start) % 2 == 0 over runs of
    consecutive match positions) is pure window algebra, so the
    whole step — including the sequential-looking merge application
    — runs as Catalyst windows and joins, no Python in the loop, and
    an ANSI-SQL oracle reproduces it bit-for-bit.

    Everything here is vocabulary-scale (see :func:`bpe_word_freq`):
    the unrolled char table is |vocab| x max_len rows, the windows
    partition by word, and the corpus never reappears. Iterating
    this step vocab_size times (with the emitted merged token fed
    back as a symbol) is exactly the public BPE training loop
    (Sennrich et al. 2016)."""
    from pyspark.sql import Window

    chars = wf.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
    ).select(
        "word", "freq", "i", F.expr("substring(word, i, 1)").alias("sym")
    )
    wq = Window.partitionBy("word").orderBy("i")
    seq = chars.withColumn("nxt", F.lead("sym").over(wq))
    pairs0 = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("l"), F.col("nxt").alias("r"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    # the winning pair is ONE deterministic row — resolve it on the
    # driver (metadata-scale collect, the q94 n_nodes discipline)
    # instead of crossJoin-broadcasting a subplan that the final
    # metrics projection would otherwise re-evaluate a second time
    # (guide §1.2/§5, r17)
    top = pairs0.orderBy(F.col("cnt").desc(), "l", "r").limit(1).collect()
    if not top:
        # no adjacent pair anywhere (empty/degenerate vocabulary):
        # same empty frame the crossJoin-with-empty-top1 shape produced
        return pairs0.select(
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            "cnt",
            F.col("l").alias("merged_left"),
            F.col("r").alias("merged_right"),
        )
    mx, my = top[0]["l"], top[0]["r"]
    seq1 = _bpe_apply_merge(seq, mx, my).withColumn(
        "nxt", F.lead("sym").over(wq)
    )
    return (
        seq1.where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left_sym"), F.col("nxt").alias("right_sym"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .select(
            "left_sym",
            "right_sym",
            "cnt",
            F.lit(mx).alias("merged_left"),
            F.lit(my).alias("merged_right"),
        )
    )


def _bpe_apply_merge(seq: DataFrame, mx: str, my: str) -> DataFrame:
    """Apply ONE merge (mx, my) leftmost-non-overlapping to a DENSE
    (word, freq, i, sym, nxt, ...) symbol table; returns the post-merge
    (word, freq, i, sym) rows with positions re-densified. PURE WINDOW
    ALGEBRA over the single (word) partitioning: the r16 shape
    re-attached the kept/consumed decisions through two (word, i)
    self-joins of the symbol table; every decision is in fact a
    per-row function of windows the frame already supports, so one
    hash partitioning by word serves the whole chain and both join
    stages (plus their exchanges under AQE replanning) disappear
    (guide §2.4; r17 plan audit: t42 9 -> 5 jobs).

    Leftmost-non-overlapping via run parity (bpe_merge_step's
    docstring): a row is a match START when (sym, nxt) == (mx, my);
    runs of CONSECUTIVE match positions group by grp = i - rank-
    among-matches (rank = running sum of the match flag, so non-match
    rows never join a run; non-matches carry a null grp and are
    parked in their own per-word null group, never read); within a
    run every other start (run offset parity 0) merges; the row AFTER
    a merged start is consumed — positions are dense, so "after" is
    exactly the lag-1 row in i order. Merged starts are never
    adjacent (within a run kept offsets differ by 2; across runs a
    gap separates them), so a consumed row is never itself a merged
    start."""
    from pyspark.sql import Window

    wq = Window.partitionBy("word").orderBy("i")
    run = Window.partitionBy("word", "__grp")
    tagged = (
        seq.withColumn(
            "__m",
            ((F.col("sym") == mx) & (F.col("nxt") == my)).cast("int"),
        )
        .withColumn(
            "__rk",
            F.sum("__m").over(
                wq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "__grp", F.when(F.col("__m") == 1, F.col("i") - F.col("__rk"))
        )
    )
    decided = tagged.withColumn(
        "__mh",
        (F.col("__m") == 1)
        & ((F.col("i") - F.min("i").over(run)) % 2 == 0),
    ).withColumn(
        "__cons", F.coalesce(F.lag("__mh").over(wq), F.lit(False))
    )
    merged = decided.where(~F.col("__cons")).select(
        "word",
        "freq",
        "i",
        F.when(F.col("__mh"), F.concat(F.col("sym"), F.col("nxt")))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )
    # re-densify positions so downstream adjacency/run arithmetic
    # (i+1 consumption, consecutive-i runs) stays valid
    return merged.withColumn("i", F.row_number().over(wq))


def bigram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max: int = 1,
) -> DataFrame:
    """Per-document statistical novelty: the fraction of a document's
    word bigrams that are RARE in the whole corpus (corpus frequency
    <= ``rare_max``) — the deterministic analog of the KenLM-style
    LM-perplexity quality filter every large pretraining pipeline
    runs (CCNet, Gopher/MassiveText rules): boilerplate and template
    text repeats corpus-common bigrams (low novelty), gibberish and
    OCR noise is made of hapax bigrams (novelty ~ 1), and both tails
    get routed for review. Rational-arithmetic by design — a count
    ratio rounded once — where a log-probability score would hang
    engine-reproducibility on libm's last ulp.

    Two-pass shape, both passes one shuffle on the bigram key: the
    global bigram count table is vocab^2-bounded (far below corpus
    size), and the count-back join re-uses the same hash partitioning
    Catalyst already produced for the groupBy (ReusedExchange), so
    the corpus is shuffled on bigram once, then on ``id_col`` once
    for the per-doc fold. Returns (id, n_bigrams, n_rare, novelty);
    documents with fewer than two tokens have no bigrams and are
    absent."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
        ).alias("pos", "w"),
    )
    wq = Window.partitionBy(id_col).orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("w").over(wq))
        .where(F.col("w2").isNotNull())
        .select(
            id_col, F.concat_ws(" ", F.col("w"), F.col("w2")).alias("bigram")
        )
    )
    counts = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return (
        bg.join(counts, "bigram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("cnt") <= rare_max, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rare"),
        )
        .select(
            id_col,
            "n_bigrams",
            "n_rare",
            F.round(
                F.col("n_rare").cast("double") / F.col("n_bigrams"), 6
            ).alias("novelty"),
        )
    )


def bpe_train(wf: DataFrame, rounds: int = 3) -> DataFrame:
    """See :func:`_bpe_iterate` — returns the merge-table metrics."""
    metrics, _ = _bpe_iterate(wf, rounds)
    return metrics


def bpe_token_counts(wf: DataFrame, rounds: int = 3) -> DataFrame:
    """ENCODE with the learned vocabulary: run the same ``rounds``
    greedy merges as :func:`bpe_train` and return, per distinct word,
    its post-merge token count and segmentation — the tokenizer-APPLY
    half of the BPE pipeline (training learns the merges; this is
    what a data pipeline actually runs over every document batch to
    budget context windows). Output: (word, freq, n_bpe,
    segmentation) with segmentation = the final symbols joined by
    '·' in position order.

    Scale: identical cost shape to training — everything after
    :func:`bpe_word_freq`'s single corpus fold is vocabulary-sized;
    re-attaching counts to documents is a broadcast-or-shuffle join
    on the word column at corpus scale (t48 composes it)."""
    _, seq = _bpe_iterate(wf, rounds)
    return seq.groupBy("word").agg(
        F.max("freq").cast("long").alias("freq"),
        F.count(F.lit(1)).cast("long").alias("n_bpe"),
        F.concat_ws(
            "·", F.array_sort(F.collect_list(F.struct("i", "sym"))).sym
        ).alias("segmentation"),
    )


def _bpe_iterate(wf: DataFrame, rounds: int = 3):
    """The BPE TRAINING LOOP (Sennrich et al. 2016) — ``rounds``
    greedy iterations of :func:`bpe_merge_step`'s algebra with the
    learned token fed back as a symbol: per round, count adjacent
    symbol pairs weighted by word freq, merge the top pair
    (count desc, lexicographic tiebreak) leftmost-non-overlapping
    into every word, re-densify positions, repeat. Returns the merge
    table with per-round evidence: (round, merged_left, merged_right,
    pair_cnt, n_tokens_after) where n_tokens_after is the WEIGHTED
    corpus token count (sum of freq over symbol occurrences) — a
    whole-vocabulary checksum that any mis-applied merge shifts.

    Scale: every round is vocabulary-sized window algebra
    (:func:`bpe_word_freq` folded the corpus once, before this);
    rounds chain through an eager localCheckpoint each (the
    connected-components lineage discipline), so training V merges is
    V bounded-size jobs, never V-deep lazy plans. Per round the
    winning pair (one deterministic row) and the post-merge token
    checksum (one aggregate) resolve on the driver — metadata-scale
    collects, the q94 n_nodes discipline — and the merge applies as
    pure single-partitioning window algebra
    (:func:`_bpe_apply_merge`), so a round is exactly: pair-count
    shuffle, top-1, merge+checkpoint, checksum. The sequential
    'apply left to right' rule stays the run-parity window rewrite —
    no per-row Python anywhere, and a generated multi-round SQL
    oracle reproduces the whole loop bit-for-bit (t46).

    Returns ``(metrics, final_seq)``: the per-round merge table AND
    the post-merge per-word symbol table (word, freq, i, sym, nxt) —
    training reads the first, encoding (:func:`bpe_token_counts`)
    the second."""
    from pyspark.sql import Window

    chars = wf.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
    ).select(
        "word", "freq", "i", F.expr("substring(word, i, 1)").alias("sym")
    )
    wq = Window.partitionBy("word").orderBy("i")
    seq = chars.withColumn("nxt", F.lead("sym").over(wq))
    spark = wf.sparkSession
    recs: list[tuple] = []
    for r in range(1, rounds + 1):
        pairs = (
            seq.where(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("l"), F.col("nxt").alias("r"))
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        # the winning pair is ONE deterministic row — resolve it on
        # the driver (metadata-scale, the q94 n_nodes discipline).
        # The r16 shape crossJoin-broadcast a top1 SUBPLAN whose
        # TakeOrdered ran TWICE per round: once inside the eager
        # checkpoint, once again when the final action re-evaluated
        # the (lazy) metrics projection (guide §1.2: don't compute
        # things twice; r17 profile: t46 27 -> 15 jobs).
        top = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1).collect()
        if not top:
            # degenerate vocabulary with no adjacent pair left: every
            # remaining round merges nothing and contributes no
            # metrics row (exactly the crossJoin-with-empty-top1
            # behavior) — stop iterating
            break
        mx, my, pair_cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        seq = (
            _bpe_apply_merge(seq, mx, my)
            .withColumn("nxt", F.lead("sym").over(wq))
            .localCheckpoint(eager=True)
        )
        n_after = seq.agg(
            F.coalesce(F.sum("freq"), F.lit(0)).cast("long")
        ).collect()[0][0]
        recs.append((r, mx, my, pair_cnt, int(n_after)))
    metrics = spark.createDataFrame(
        recs,
        schema=(
            "round long, merged_left string, merged_right string, "
            "pair_cnt long, n_tokens_after long"
        ),
    )
    return metrics, seq


def tokenize_tf(docs: DataFrame) -> DataFrame:
    """(w, doc_id, tf) — the postings fold every index query starts
    from (t49's tokenize + per-(term, doc) count)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
    ).where(F.length("w") >= 2)
    return toks.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def _increment_applied(store_path: str, increment_id: str | None) -> bool:
    """Whether ``store_path``'s current manifest already carries the
    applied-increment stamp for ``increment_id`` — the retry probe
    behind the multi-store increment recovery story (r12 advice #4)."""
    from ..operators.snapshots import _manifest, list_versions

    if increment_id is None:
        return False
    vs = list_versions(store_path)
    if not vs:
        return False
    ex = _manifest(store_path, vs[-1]).get("extra") or {}
    return ex.get("last_increment") == increment_id


def postings_increment(
    spark: SparkSession,
    store: str,
    incr_docs: DataFrame,
    n_docs_total: DataFrame,
    broadcast: bool = True,
    increment_id: str | None = None,
) -> None:
    """Incremental maintenance of a persisted postings index
    (``store/postings``, ``store/dfreq``, ``store/meta`` — the t50
    layout): tokenize ONLY the increment, append its posting rows
    (plain manifest append — base files carry by reference), and
    MERGE the per-term document-frequency deltas through the keyed
    CoW (only dfreq files containing a touched term rewrite). The
    corpus is never re-tokenized: cost tracks the increment size plus
    the touched slice of the vocabulary, exactly how a production
    index absorbs a crawl batch. Post-append searches must be
    indistinguishable from a full rebuild — pinned both by the t51
    driver hash (oracle = the inline chain over the COMPOSED corpus)
    and by tests/test_textops.py's append-equals-rebuild pin on a
    second split.

    ``broadcast`` routes the df-delta MERGE: the update set is the
    increment's DISTINCT vocabulary, fine to broadcast for a crawl
    batch (tens of MB at millions of terms) but worth a shuffle
    merge (``False``) when a huge increment touches most of a huge
    vocabulary.

    RECOVERY: the index spans three independent snapshot stores
    (postings append, dfreq CoW-merge, meta overwrite) with no
    cross-store transaction, so a crash between commits leaves them
    inconsistent — and a blind re-run is NOT idempotent (postings
    would double-append). Pass ``increment_id`` (any stable batch
    name) and each store's commit stamps ``extra['last_increment']``;
    a retry with the same id probes the stamps and SKIPS stores the
    failed run already reached, completing exactly the missing
    commits. Without an id the stamps are absent and re-running a
    partially-applied increment corrupts the index — rebuild instead
    (r12 advice #4)."""
    from ..operators.snapshots import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    stamp = (
        {"last_increment": increment_id} if increment_id is not None
        else None
    )
    incr_tf = tokenize_tf(incr_docs)

    def _postings() -> None:
        if not _increment_applied(store + "/postings", increment_id):
            snapshot_write(
                spark, store + "/postings", incr_tf, mode="append",
                extra_update=stamp,
            )

    def _dfreq() -> None:
        if not _increment_applied(store + "/dfreq", increment_id):
            incr_df = incr_tf.groupBy("w").agg(
                F.count(F.lit(1)).cast("long").alias("df_inc")
            )
            old = snapshot_read(spark, store + "/dfreq")
            upd = (
                incr_df.join(old, "w", "left")
                .select(
                    "w",
                    (F.coalesce(F.col("df"), F.lit(0)) + F.col("df_inc"))
                    .cast("long")
                    .alias("df"),
                )
            )
            snapshot_merge(
                spark, store + "/dfreq", upd, ["w"],
                broadcast_updates=broadcast, extra_update=stamp,
            )

    def _meta() -> None:
        if not _increment_applied(store + "/meta", increment_id):
            snapshot_write(
                spark,
                store + "/meta",
                n_docs_total.select(
                    F.col(n_docs_total.columns[0]).cast("long").alias(
                        "n_docs"
                    ),
                    # keep any extra meta columns the caller maintains
                    # (the streaming sink's last-applied-epoch
                    # idempotency marker)
                    *[F.col(c) for c in n_docs_total.columns[1:]],
                ),
                mode="overwrite",
                extra_update=stamp,
            )

    # serial, meta LAST: the streaming sink skips any epoch meta has
    # recorded, so meta must never land before a commit that can fail
    _postings()
    _dfreq()
    _meta()


def bm25_increment(
    spark: SparkSession,
    store: str,
    incr_docs: DataFrame,
    broadcast: bool = True,
    increment_id: str | None = None,
) -> None:
    """Incremental maintenance of a persisted BM25 index (t54's
    layout: ``store/postings`` rows carry the document length,
    ``store/meta`` carries corpus size AND total token count) — the
    same never-re-tokenize contract as :func:`postings_increment`,
    extended to the two corpus statistics BM25's length normalization
    needs: the increment's posting rows (with their dl) APPEND (base
    files carry by reference), per-term document-frequency deltas
    MERGE through the keyed CoW (only touched vocabulary files
    rewrite), and meta recomputes as old + increment (one 1-row
    overwrite — n_docs grows by the increment's doc count, tl by its
    token count). Increment doc_ids must be NEW documents (same
    contract as postings_increment; updating a document is
    delete+reinsert, a different operation). Post-append searches
    must be indistinguishable from a full rebuild — pinned by the
    t55 driver hash (oracle = t54's chain over the COMPOSED corpus)
    and tests/test_textops.py's append-equals-rebuild pin.

    RECOVERY: same three-store, no-cross-store-transaction shape as
    :func:`postings_increment`, same contract — pass ``increment_id``
    and each commit stamps ``extra['last_increment']`` so a retry
    with the same id skips already-applied stores; without an id a
    re-run of a partially-applied increment double-appends postings
    (r12 advice #4). The meta recompute reads old + increment, so
    applying it last on a retry still sees the pre-increment meta."""
    from ..operators.snapshots import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    stamp = (
        {"last_increment": increment_id} if increment_id is not None
        else None
    )
    incr_tf = tokenize_tf(incr_docs)
    dl = incr_tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl")
    )

    def _postings() -> None:
        if not _increment_applied(store + "/postings", increment_id):
            snapshot_write(
                spark, store + "/postings", incr_tf.join(dl, "doc_id"),
                mode="append", extra_update=stamp,
            )

    def _dfreq() -> None:
        if not _increment_applied(store + "/dfreq", increment_id):
            incr_df = incr_tf.groupBy("w").agg(
                F.count(F.lit(1)).cast("long").alias("df_inc")
            )
            old = snapshot_read(spark, store + "/dfreq")
            upd = incr_df.join(old, "w", "left").select(
                "w",
                (F.coalesce(F.col("df"), F.lit(0)) + F.col("df_inc"))
                .cast("long")
                .alias("df"),
            )
            snapshot_merge(
                spark, store + "/dfreq", upd, ["w"],
                broadcast_updates=broadcast, extra_update=stamp,
            )

    def _meta() -> None:
        if not _increment_applied(store + "/meta", increment_id):
            inc_meta = incr_docs.agg(
                F.count(F.lit(1)).cast("long").alias("dn")
            ).crossJoin(
                dl.agg(
                    F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias(
                        "dtl"
                    )
                )
            )
            new_meta = (
                snapshot_read(spark, store + "/meta")
                .crossJoin(F.broadcast(inc_meta))
                .select(
                    (F.col("n_docs") + F.col("dn")).cast("long").alias(
                        "n_docs"
                    ),
                    (F.col("tl") + F.col("dtl")).cast("long").alias("tl"),
                )
            )
            snapshot_write(
                spark, store + "/meta", new_meta, mode="overwrite",
                extra_update=stamp,
            )

    # serial, meta LAST, as in postings_increment
    _postings()
    _dfreq()
    _meta()
