"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Charter §2.12 operators over the documents table, grounded in the
public MinHash/LSH literature (Broder '97 shingling; Indyk-Motwani
LSH; Charikar '02 simhash — see PAPERS.md). Everything is built on the
engine-portable ``hash32`` (first 8 md5 hex digits) so the DuckDB
oracle can verify signatures exactly.

Execution design: shingling is PARTITION-LOCAL (tokenize once, array
k-grams + per-doc distinct — zero shuffles), and so are the per-doc
facts derived from it: minhash signatures are array_min over affine
rehashes of the per-shingle hash array (``_rowwise_sig``), and
|shingles| is ``F.size`` — both pure codegen'd array HOFs, no groupBy.
The only shuffles left in the minhash path are the ones that are
inherently relational:

- shingling + signatures + sizes: 0 shuffles (array HOFs per row);
- LSH banding: unpivot + 1 self-equi-join on the band key;
- Jaccard verify: per-row ``array_intersect`` over the two shingle
  arrays joined onto each candidate pair — no shingle-level join, no
  pair groupBy; work proportional to candidates x array length.

simhash is likewise per-row: a staged token-hash array + 32 bit-vote
``F.aggregate`` folds — no shuffle of token rows.

Skew note at 100 TB: hot shingles/bands (boilerplate text) fan the
self-joins quadratically — cap or salt ubiquitous keys; AQE skew
handling covers the join stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import hash32, normalize_text, whitespace_tokens

# Affine-rehash family over a single base hash (the standard
# "one strong hash + k universal rehashes" minhash construction):
# mh_i = min over shingles of (A_i * hash32(s) + B_i) mod P.
# One md5 per shingle total; P is the smallest prime > 2^32; A_i odd
# and small keeps A*h inside int64.
MINHASH_P = 4294967311


def minhash_seed(i: int) -> tuple[int, int]:
    return 2 * i + 1, i * i + 12345


def _affine_sql(i: int, h: Column) -> Column:
    a, b = minhash_seed(i)
    return (h * a + b) % MINHASH_P


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def _shingles_of(toks: Column, k: int) -> Column:
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text (array<string>)."""
    toks = whitespace_tokens(normalize_text(col))
    return _shingles_of(toks, k)




# ---------------------------------------------------------------------------
# MinHash / LSH
# ---------------------------------------------------------------------------


def shingled_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, keep_cols..., sh) with ``sh`` the per-document DISTINCT
    shingle array (PRECONDITION: ``id_col`` unique — per-doc
    ``array_distinct`` alone guarantees global (id, shingle)
    distinctness). Entirely partition-local:
    downstream per-doc facts (signatures via ``_rowwise_sig``,
    |shingles| via ``F.size``) then need NO groupBy, removing the one
    shuffle of every (doc, shingle) row that the exploded formulation
    paid — at corpus scale that shuffle is the largest intermediate in
    the near-dup pipeline. ``keep_cols`` (e.g. blocking keys) ride the
    projection instead of being joined back later.

    Two projections, not one: the token array is MATERIALIZED before
    the k-gram transform references it. Inlined, the lambda's ``toks``
    reference re-evaluates the normalize+split chain PER ARRAY ELEMENT
    (interpreted HOFs get no common-subexpression elimination) —
    measured 6x slower at sf0.1. Same hazard fixed in
    ``winnow_fingerprints`` (26x there; the re-evaluated chain
    includes the md5s)."""
    from ..catalog import fan_out

    extra = list(keep_cols or [])
    base = fan_out(
        df.select(F.col(id_col).alias("id"), *extra, F.col(text_col).alias("t"))
    )
    toks = base.select(
        "id",
        *extra,
        whitespace_tokens(normalize_text(F.col("t"))).alias("__toks"),
    )
    return toks.select(
        "id", *extra, _shingles_of(F.col("__toks"), k).alias("sh")
    )


def _rowwise_sig(shingled: DataFrame, n_hashes: int) -> DataFrame:
    """+ mh0..mh{n-1} computed per-row: hash32 once per shingle
    (transform), then each signature is an array_min over the affine
    rehash — the standard exploded-groupBy formulation's values,
    computed without its shuffle: same hash family over the same
    distinct shingle set, zero shuffles, all
    whole-stage codegen."""
    hashed = shingled.withColumn(
        "__hs", F.transform(F.col("sh"), lambda s: hash32(s))
    )
    sig = hashed.select(
        "*",
        *[
            F.array_min(
                F.transform(F.col("__hs"), lambda h: _affine_sql(i, h))
            ).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
    )
    return sig.drop("__hs")


def add_minhash(
    df: DataFrame, text_col: str = "text", n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """df + mh0..mh{n-1} columns (joined back on the id)."""
    id_col = df.columns[0]
    sig = _rowwise_sig(shingled_docs(df, id_col, text_col, k), n_hashes).select(
        F.col("id").alias(id_col), *[f"mh{i}" for i in range(n_hashes)]
    )
    return df.join(sig, id_col)


def lsh_band_keys(n_hashes: int = 16, bands: int = 4) -> list[Column]:
    """Band a minhash signature: md5 over each band's rows. Docs
    sharing any band key are near-dup candidates."""
    rows = n_hashes // bands
    keys = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        keys.append(F.md5(F.concat_ws(",", *cols)).alias(f"band{b}"))
    return keys


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    k: int = 3,
    max_band_size: int | None = None,
    band_salt: int = 1,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    Per-row signatures (zero shuffle) -> unpivot bands -> ONE
    self-equi-join on the band key -> distinct candidates -> per-row
    array_intersect Jaccard verify on candidates.

    Skew controls for 100 TB corpora (both default OFF, preserving
    exact semantics):
    - ``max_band_size``: drop band buckets larger than this before the
      self-join. A bucket of b docs costs b^2 candidate pairs;
      boilerplate text (license headers, templates) routinely forms
      million-doc buckets that are degenerate near-dup CLUSTERS, not
      pairs — the standard practice (and what the candidate count
      bound needs) is to cap them and handle mega-clusters by exact
      fingerprint instead (t3). CHANGES RESULTS for pairs only
      discoverable via the dropped buckets.
    - ``band_salt`` s > 1: split each bucket's left side s ways by id
      hash and replicate the right side to every split, so one hot
      bucket's b^2 work spreads over s tasks instead of one straggler.
      Total work unchanged, results IDENTICAL for any s; use when AQE
      skew-split alone can't break up a single giant key.
    """
    shs = shingled_docs(df, id_col, text_col, k).cache()
    sig = _rowwise_sig(shs, n_hashes)
    # cached: the self-join reads the banded table on BOTH sides, and
    # with the signature stage now shuffle-free there is no Exchange
    # for Spark to reuse — uncached, the whole per-row signature
    # pipeline would run twice
    stacked = sig.select("id", *lsh_band_keys(n_hashes, bands)).unpivot(
        "id", [f"band{b}" for b in range(bands)], "band_idx", "band_key"
    ).cache()
    if max_band_size is not None:
        w_band = Window.partitionBy("band_idx", "band_key")
        stacked = (
            stacked.withColumn("__bs", F.count(F.lit(1)).over(w_band))
            .where(F.col("__bs") <= max_band_size)
            .drop("__bs")
        )
    lhs = stacked.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    rhs = stacked.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    join_keys = ["band_idx", "band_key"]
    if band_salt > 1:
        # type-agnostic salt: xxhash64 over any id type. A long cast
        # would NULL out non-numeric ids, and NULL salt keys never
        # match the exploded right side — silently dropping every pair
        # involving such ids
        lhs = lhs.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("id_a")), F.lit(band_salt)).cast("int")
        )
        rhs = rhs.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(band_salt - 1)))
        )
        join_keys = join_keys + ["__salt"]
    cands = (
        lhs.join(rhs, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    return _verify_pairs(cands, shs, threshold)


def _verify_pairs(
    cands: DataFrame, shs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify as PER-ROW set algebra: pull each side's
    (already distinct) shingle array onto the pair and intersect in
    the row — no shingle-level join, no pair groupBy, no size joins.
    Work is proportional to candidate pairs x array length, all
    whole-stage codegen; the two id-equi-joins are the only shuffles
    and at corpus scale candidates are a sliver of documents."""
    sh_a = shs.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a"))
    sh_b = shs.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b"))
    joined = (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_inter"),
            F.size("__sh_a").alias("n_a"),
            F.size("__sh_b").alias("n_b"),
        )
    )
    # integer-scaled rounding: n_inter*1e6/union is an exact-int double
    # division, and a true half-way quotient is exactly representable —
    # so ROUND agrees across engines (rounding the raw double ratio
    # diverges exactly when the rational IS a decimal tie)
    jaccard = (
        F.round(
            F.col("n_inter") * F.lit(1000000.0)
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        / F.lit(1000000.0)
    )
    return (
        joined.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band_idx, band_key): a corpus's LSH index rows — what a
    deployment PERSISTS so tomorrow's increment never re-hashes the
    corpus. Signatures are per-row/zero-shuffle and depend only on the
    document's own text (never on the rest of the corpus), so index
    rows written today band-join correctly against documents hashed
    next year. ~bands rows x ~50 bytes per doc: a 100 TB corpus keeps
    a few-hundred-GB band table, ideally stored partitioned/bucketed
    by band_key."""
    sig = _rowwise_sig(shingled_docs(df, id_col, text_col, k), n_hashes)
    return sig.select("id", *lsh_band_keys(n_hashes, bands)).unpivot(
        "id", [f"band{b}" for b in range(bands)], "band_idx", "band_key"
    )


def incremental_lsh_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    k: int = 3,
    old_band_table: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING A NEW DOC — incremental LSH index
    maintenance: at 100 TB you never re-LSH the corpus when a daily
    increment arrives; you hash the increment, join it against the
    persisted band table, and verify only the touched documents.

    Returns exactly ``minhash_lsh_pairs(old ∪ new)`` restricted to
    pairs with >=1 new id (minhash signatures are a pure function of
    each doc's own text, so banding the increment separately yields
    the identical candidate set — pytest-pinned; requires disjoint
    old/new ids and no band-size cap, whose counts are corpus-wide).

    Cost shape: signatures only over the increment (zero shuffle);
    the band table NEVER shuffles — the increment's band rows are
    broadcast into it; new x new is a self-join of the increment;
    exact-Jaccard verify re-shingles ONLY candidate-touched old docs
    (semi-join pushdown) plus the increment. Pass ``old_band_table``
    (from :func:`lsh_band_table`, persisted) to skip re-deriving the
    index; without it the index is derived from ``old_docs`` in-query
    (same rows, same plan shape from the join onward)."""
    old_idx = (
        old_band_table
        if old_band_table is not None
        else lsh_band_table(old_docs, id_col, text_col, n_hashes, bands, k)
    )
    new_stacked = lsh_band_table(
        new_docs, id_col, text_col, n_hashes, bands, k
    ).cache()
    inc = new_stacked.select(
        F.col("id").alias("__id_new"), "band_idx", "band_key"
    )
    new_old = (
        old_idx.join(F.broadcast(inc), ["band_idx", "band_key"])
        .where(F.col("id") != F.col("__id_new"))
        .select(
            F.least("id", "__id_new").alias("id_a"),
            F.greatest("id", "__id_new").alias("id_b"),
        )
    )
    new_new = (
        new_stacked.select(F.col("id").alias("id_a"), "band_idx", "band_key")
        .join(
            new_stacked.select(
                F.col("id").alias("id_b"), "band_idx", "band_key"
            ),
            ["band_idx", "band_key"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cands = new_old.unionByName(new_new).distinct()
    # verify shingles: only docs a candidate touches are re-shingled
    ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    touched_old = old_docs.join(F.broadcast(ids), id_col, "left_semi")
    corpus = touched_old.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col)
    )
    shs = shingled_docs(corpus, id_col, text_col, k)
    return _verify_pairs(cands, shs, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(col: Column | str, bits: int = 32) -> Column:
    """32-bit Charikar simhash, one-shot column form (interpreted HOF —
    use :func:`simhash_table` on hot paths).

    For each bit b: sum over tokens (multiset) of +1/-1 by token-hash
    bit b; simhash bit is 1 iff the sum > 0."""
    toks = whitespace_tokens(normalize_text(col))
    hashes = F.transform(toks, lambda t: hash32(t))

    def _vote(bit_mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(bit_mask)) > 0, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for b in range(bits):
        votes = F.aggregate(hashes, F.lit(0).cast("long"), _vote(1 << b))
        out = out + F.when(votes > 0, F.lit(1 << b)).otherwise(0).cast("long")
    return out


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(id, simhash) per-row, ZERO shuffles: the token-hash array
    (MULTISET — duplicates weight the votes) is materialized in its
    own projection (one md5 per token occurrence), then each bit's
    vote is an ``F.aggregate`` over it. Replaces the earlier
    explode + groupBy form: identical values (same votes over the
    same multiset), no shuffle of the corpus token rows, measured 2x
    faster at sf0.1 — and at 100 TB the removed shuffle was every
    token occurrence in the corpus."""
    from ..catalog import fan_out

    base = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    )
    staged = base.select(
        "id",
        F.transform(
            whitespace_tokens(normalize_text(F.col("t"))),
            lambda t: hash32(t),
        ).alias("__hs"),
    )
    # ONE SQL-text expr, not 32 op-by-op Column folds: each Python
    # Column operation is a Py4J round trip, and the 32-bit vote tree
    # cost ~1.4 s of plan BUILD per call vs 0.3 s of execution
    # (the same lesson as the PQ argmins — docs/SCALE.md). Identical
    # expression tree after parsing.
    terms = []
    for b in range(bits):
        mask = 1 << b
        votes = (
            f"aggregate(__hs, CAST(0 AS BIGINT), (acc, h) -> acc + "
            f"CASE WHEN (h & {mask}) > 0 THEN 1 ELSE -1 END)"
        )
        terms.append(
            f"CAST(CASE WHEN {votes} > 0 THEN {mask} ELSE 0 END AS BIGINT)"
        )
    out = F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    return staged.select("id", out.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by banded simhash: pigeonhole guarantees that two
    signatures within Hamming distance `bands - 1` share at least one
    identical band, so candidates = any-band collision and the exact
    bit_count(xor) <= max_hamming check runs only on collisions.
    Signature rows are ~12 bytes/doc — at 100 TB the self-join input is
    a ~thousandth of the corpus, and only (band_key, id, simhash)
    narrow rows shuffle. Requires max_hamming < bands for completeness.

    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    if max_hamming >= bands:
        raise ValueError("banding is complete only for max_hamming < bands")
    width = bits // bands
    mask = (1 << width) - 1
    # cached: the band self-join reads the signature table on both
    # sides; the per-row signature stage has no Exchange to reuse, so
    # uncached it would run twice (one md5 pass per token occurrence
    # per side). ~12 bytes/doc — negligible memory at any corpus size.
    sim = simhash_table(df, id_col, text_col, bits).cache()
    stacked = sim.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    lhs = stacked.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"),
        "band_idx", "band_key",
    )
    rhs = stacked.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"),
        "band_idx", "band_key",
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        lhs.join(rhs, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard + exact dedup
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard within blocking buckets (e.g. lang+source).

    |intersection| is a shingle-level equi-join aggregated per pair;
    |union| = |A| + |B| - |inter|. Blocking keeps the join quadratic
    only within buckets. Doc shingle counts are array lengths
    (per-row, no groupBy), and the bucket columns ride the shingled
    projection — the only shuffles are the pair join + pair agg.
    """
    # cached as ARRAYS: the pair join reads it twice (both sides) and
    # sizes once — explode from the cache is partition-local CPU
    shs = shingled_docs(
        df, id_col, text_col, k, keep_cols=bucket_cols
    ).cache()
    sizes = shs.select("id", *bucket_cols, F.size("sh").alias("n_sh"))
    tok = shs.select(
        "id", *bucket_cols, F.explode("sh").alias("shingle")
    )
    a = tok.select(F.col("id").alias("id_a"), *bucket_cols, "shingle")
    b = tok.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in bucket_cols],
        F.col("shingle").alias("__b_shingle"),
    )
    cond = (F.col("shingle") == F.col("__b_shingle")) & (
        F.col("id_a") < F.col("id_b")
    )
    for c in bucket_cols:
        cond &= F.col(c) == F.col(f"__b_{c}")
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b", *bucket_cols)
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    joined = inter.join(sa, "id_a").join(sb, "id_b")
    # integer-scaled rounding: n_inter*1e6/union is an exact-int double
    # division, and a true half-way quotient is exactly representable —
    # so ROUND agrees across engines (rounding the raw double ratio
    # diverges exactly when the rational IS a decimal tie)
    jaccard = (
        F.round(
            F.col("n_inter") * F.lit(1000000.0)
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        / F.lit(1000000.0)
    )
    return (
        joined.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", *bucket_cols, "jaccard")
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by normalized-text fingerprint, keep lowest id
    (deterministic keep-first — SURVEY §2.6 O3)."""
    from .dedup import dedup_keep_first
    from .text import fingerprint

    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    return dedup_keep_first(with_fp, ["__fp"], [id_col]).drop("__fp")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): DISTINCT (id, fp) rows, fp = selected k-gram hashes.

    The POSITIONAL k-gram hash sequence (no distinct — unlike
    shingles, positions matter) slides a window of ``w`` consecutive
    hashes; each window contributes its MINIMUM. The guarantee: any
    shared substring of length >= k + w - 1 tokens yields at least one
    shared fingerprint, while only ~2/(w+1) of the hashes survive —
    a tunable density/recall dial that plain minhash lacks.

    Entirely JVM higher-order array functions, partition-local (zero
    shuffles before the final distinct-free explode — per-window mins
    are deduped per-doc by array_distinct, and (id, fp) needs no
    global distinct for unique ids, same precondition as
    shingled_docs). Documents shorter than k tokens contribute one
    whole-text gram; hash sequences shorter than ``w`` form a single
    window.

    Staged as THREE projections (toks -> hs -> window mins): each
    array is materialized before the next transform's lambda
    references it. Inlined as one expression, the per-element lambda
    reference re-evaluates the whole upstream chain (tokenize + n
    md5s) PER WINDOW — interpreted HOFs get no common-subexpression
    elimination; measured 26x slower at sf0.1.
    """
    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    staged = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    tk = F.col("__toks")
    n = F.size(tk)
    gram_idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    grams = F.transform(gram_idx, lambda i: F.concat_ws(" ", F.slice(tk, i, k)))
    hashed = staged.select("id", F.transform(grams, hash32).alias("__hs"))
    hs = F.col("__hs")
    m = F.size(hs)
    win_idx = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))
    fps = F.array_distinct(
        F.transform(win_idx, lambda j: F.array_min(F.slice(hs, j, w)))
    )
    return hashed.select("id", F.explode(fps).alias("fp"))


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    (id_a, id_b, n_shared) with id_a < id_b and n_shared >=
    ``min_shared``. One self-equi-join on fp (same shape as the LSH
    band join — co-partitioned by fingerprint, skew bounded by hash
    uniformity) + a pair-count aggregate."""
    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    a = fp.select(F.col("id").alias("id_a"), "fp")
    b = fp.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Eval-set decontamination: per corpus document, how many of its
    distinct k-word shingles also appear in the benchmark corpus.
    Returns (id, n_hits) for contaminated documents only — callers
    anti-join the result to drop them, or threshold on ``n_hits``.

    Scale shape (the standard n-gram-overlap decontamination used for
    LLM training sets): the benchmark side is small by definition
    (eval suites are ~1e6 grams), so its distinct gram set is
    BROADCAST — the 100 TB corpus is never shuffled. The corpus
    explode is narrow (partition-local), the broadcast hash join
    filters grams in place, and the per-doc distinct-hit count
    aggregates map-side before the one tiny shuffle of (doc,
    partial-count) rows for hit documents only (hits are rare). No
    sort, no corpus-sized exchange anywhere.

    Corpus grams are built by exploding POSITIONS and slicing one
    gram per output row — NOT by exploding a per-doc gram array:
    ``explode(<HOF-built array>)`` re-evaluates the whole transform
    chain per OUTPUT row (measured ~30x: 5.7 s vs 0.8 s at sf0.1;
    the staging discipline of docs/SCALE.md does not protect across
    a Generate). Per-doc gram distinctness moves to the
    ``count_distinct`` AFTER the semi join, where only the rare hits
    remain — same result, exploded formulation's dedup cost avoided.
    """
    from ..catalog import fan_out

    # explode_OUTER + isNotNull: a plain explode here triggers
    # InferFiltersFromGenerate, whose pushed-down size()>0 filter
    # re-runs the whole shingling chain interpreted per benchmark row
    # (the t58 hazard, r15; shingles are never null so outer only
    # adds droppable marker rows)
    bench_grams = (
        shingled_docs(benchmark, id_col, text_col, k)
        .select(F.explode_outer("sh").alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )
    toks = fan_out(
        corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    ).select("id", whitespace_tokens(normalize_text(F.col("t"))).alias("__toks"))
    pos = toks.select(
        "id",
        "__toks",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("__toks") - (k - 1), F.lit(1))
            )
        ).alias("__i"),
    )
    corpus_grams = pos.select(
        "id", F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), k)).alias("g")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count_distinct("g").alias("n_hits"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs: |A∩B|/|A| and |A∩B|/|B| within
    blocking buckets — the quote/excerpt detector. Jaccard punishes
    size asymmetry (a 50-gram quote inside a 5000-gram article scores
    |∩|/|∪| ≈ 1%, invisible at any useful threshold) while its
    containment from the SHORT side is ≈ 100%; curation pipelines
    need containment to catch wrapped copies, quotations, and
    boilerplate embeddings that symmetric similarity misses
    (Broder's containment measure, same lineage as resemblance).

    Relational shape = ngram_jaccard_pairs: blocked shingle equi-join
    -> per-pair intersection count -> per-side ratios from the
    PER-ROW array sizes (no extra shuffle). Emits pairs where EITHER
    direction clears ``threshold``; both directions are reported so
    the caller knows which doc is the container. Exact-int-ratio
    rounding keeps the fractions engine-identical.
    """
    shs = shingled_docs(
        df, id_col, text_col, k, keep_cols=bucket_cols
    ).cache()
    sizes = shs.select("id", F.size("sh").alias("n_sh"))
    tok = shs.select("id", *bucket_cols, F.explode("sh").alias("shingle"))
    a = tok.select(F.col("id").alias("id_a"), *bucket_cols, "shingle")
    b = tok.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in bucket_cols],
        F.col("shingle").alias("__b_shingle"),
    )
    cond = (F.col("shingle") == F.col("__b_shingle")) & (
        F.col("id_a") < F.col("id_b")
    )
    for c in bucket_cols:
        cond &= F.col(c) == F.col(f"__b_{c}")
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    cont_a = F.round(F.col("n_inter") * 1000000.0 / F.col("n_a")) / 1000000.0
    cont_b = F.round(F.col("n_inter") * 1000000.0 / F.col("n_b")) / 1000000.0
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            cont_a.alias("cont_a"),
            cont_b.alias("cont_b"),
        )
    )
    return out.where(
        (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
    )


def minhash_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(id, sh, mh0..mh{n-1}): the public signature table — what a
    deployment persists alongside the band table when it wants to
    ESTIMATE similarity from signatures (agreement/n_hashes is an
    unbiased Jaccard estimator) instead of re-reading shingles.
    Per-row, zero-shuffle (see :func:`_rowwise_sig`)."""
    return _rowwise_sig(shingled_docs(df, id_col, text_col, k), n_hashes)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_num: int = 3,
    tau_den: int = 5,
    shingle_k: int = 1,
) -> DataFrame:
    """EXACT word-set Jaccard similarity join via PREFIX FILTERING —
    the AllPairs/PPJoin family (Bayardo et al., WWW'07; public
    algorithm), and the exact-similarity answer when NO blocking key
    exists: :func:`ngram_jaccard_pairs` bounds its quadratic join with
    a metadata block (lang+source), which degrades to bucket² inside
    one big language at 100 TB; minhash-LSH (t7) bounds it
    probabilistically but admits false negatives. Prefix filtering is
    exact AND bounded: order every token by GLOBAL RARITY (document
    frequency, then token — a total order), and index each document
    only by its p = n - ceil(tau*n) + 1 rarest tokens. Any pair with
    Jaccard >= tau must share at least one PREFIX token (pigeonhole:
    two sets sharing none of each other's first p tokens overlap in
    at most n - p = ceil(tau*n) - 1 < tau*n <= tau*|union| tokens), so
    the candidate join touches only prefix postings — and those are
    the RAREST tokens, so candidate volume is sum(df_prefix^2) over
    low-df tokens, never corpus², and 'the'-class stopwords never
    generate a single candidate pair.

    Everything is integer-exact for the cross-engine hash: the prefix
    length uses integer ceil ((n*tau_num + tau_den - 1) DIV tau_den),
    the threshold test cross-multiplies (inter * tau_den >=
    union * tau_num — the BM25 discipline), and the reported jaccard
    is one exact-int double division. Returns (a_id, b_id, inter,
    uni, jac) with a_id < b_id.

    r15 reshape (r14 verdict ask #3): no row anywhere in the plan
    carries a document's token ARRAY. Prefix positions come from a
    per-doc row_number window over the (tok_df, tok) rarity order
    instead of a sort_array(collect_list) — narrow rows through every
    shuffle. The per-token positional filter is then TIGHTENED to
    PPJoin's accumulated form by grouping candidate rows per pair:
    shared prefix tokens appear in the same global order in both
    docs, so the maxima of their positions are attained by the SAME
    token t*, every common token outside the shared-prefix set is
    globally greater than t*, and overlap <= c + min(na-1-ia,
    nb-1-jb) (c = shared-prefix count, ia/jb = max shared positions)
    — strictly stronger than any single-token bound, killing
    candidates the per-token filter admits. Verification re-joins the
    narrow (id, tok) postings on the candidate ids and counts
    matches, so verify cost is O(candidate tokens), and row width
    stays O(1) at 100-TB document sizes instead of O(doc tokens).

    Shuffles: the token-df window (one exchange by tok — r17: was a
    groupBy + broadcast join-back, unbroadcastable at corpus scale),
    the per-doc rank window, the prefix-posting self-join + pair
    groupBy (over a ONCE-materialized prefix set — r17: the plan
    previously rebuilt the whole rank pipeline under each join side),
    the verify postings re-join + count. Each is keyed and bounded;
    no all-pairs stage exists in the plan at any scale.

    ``shingle_k > 1`` switches the set elements from words to
    distinct k-word shingles (:func:`word_shingles` — the t6/t7
    convention). Word sets are the textbook formulation but degrade
    on templated corpora where every document shares most of its
    vocabulary (the similarity structure lives in word ORDER);
    shingles keep unrelated documents dissimilar, so a high tau
    selects true near-duplicates and prefix postings stay rare."""
    if shingle_k > 1:
        # shingled_docs carries the fan_out (a single-file scan would
        # serialize the regex-heavy shingling on ONE core) and the
        # materialized-token-array projection (the inlined-HOF 6x
        # re-evaluation hazard its docstring documents)
        base = shingled_docs(df, id_col, text_col, shingle_k).select(
            "id", F.col("sh").alias("elems")
        )
    else:
        from ..catalog import fan_out

        base = fan_out(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        ).select(
            "id",
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.lower(F.col("t"))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("elems"),
        )
    # cached: the posting list feeds FOUR shuffling consumers (df
    # counts, the rank window, both sides of the verify re-join) and
    # shingling is regex-heavy CPU — same rule as
    # ngram_jaccard_pairs' cache. explode_OUTER because the non-outer
    # explode triggers Catalyst's InferFiltersFromGenerate, which
    # re-evaluates the whole shingling chain interpreted inside a
    # pushed-down Filter (measured 15x at sf1.0, r15 — the rule only
    # fires on non-outer generates; test_plans.py pins the whole
    # registry against the hazard). Elements are never null
    # (concat_ws/filter upstream), so the isNotNull guard only drops
    # the empty-array marker rows outer-explode adds.
    toks = (
        base.select("id", F.explode_outer("elems").alias("tok"))
        .where(F.col("tok").isNotNull())
        .cache()
    )
    cand = _prefix_jaccard_candidates(toks, tau_num, tau_den)
    # verify by RE-JOINING the narrow (id, tok) postings on candidate
    # ids and counting matches — no token array is ever materialized,
    # so candidate-row width is O(1) regardless of document size
    return (
        cand.select("a_id", "b_id", "na", "nb")
        .join(toks.select(F.col("id").alias("a_id"), "tok"), "a_id")
        .join(toks.select(F.col("id").alias("b_id"), "tok"), ["b_id", "tok"])
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .where(F.col("inter") * tau_den >= F.col("uni") * tau_num)
        .select(
            "a_id",
            "b_id",
            "inter",
            F.col("uni").cast("long").alias("uni"),
            (F.col("inter").cast("double") / F.col("uni").cast("double"))
            .alias("jac"),
        )
    )


def _prefix_jaccard_candidates(
    toks: DataFrame,
    tau_num: int,
    tau_den: int,
    accumulated: bool = True,
) -> DataFrame:
    """Candidate stage of :func:`prefix_filter_jaccard_pairs` over a
    narrow ``(id, tok)`` posting frame (elements already distinct per
    id): returns ``(a_id, b_id, na, nb)`` pairs surviving the prefix +
    length + positional filters. ``accumulated=False`` keeps only the
    per-token positional filter (the r14 shape) — an observability
    knob so tests can pin how many candidates the accumulated (group)
    filter kills on a skewed corpus; production callers always use
    the default."""
    from pyspark.sql import Window

    # token document-frequency as a WINDOW over the (tok) partitioning
    # instead of a groupBy + join-back (r17, guide §2.4): the join
    # shape costs an aggregate exchange, a broadcast build of the
    # corpus-wide dfreq table, and a probe over every posting row —
    # and at 100 TB the dfreq table (one row per distinct shingle)
    # cannot broadcast at all, so the planner would silently fall back
    # to shuffling the postings TWICE. The window form is one exchange
    # by tok, period. (Skew note: this window runs over ALL tokens,
    # before the prefix filter keeps the rare ones, and WindowExec
    # sorts each task's rows by tok and buffers every token's postings
    # — spillable, but all in one task. A hot token (a common shingle
    # in a skewed corpus) is therefore one straggler task that may
    # spill, where the groupBy + join-back shape combined its count
    # map-side.)
    w_tok = Window.partitionBy("tok")
    # rarity rank per doc via a PARTITIONED window (one shuffle by id,
    # narrow rows) — replaces the r14 sort_array(collect_list) whose
    # O(doc-tokens) arrays rode through every downstream shuffle
    w_ord = Window.partitionBy("id").orderBy("tok_df", "tok")
    w_doc = Window.partitionBy("id")
    ranked = toks.withColumn(
        "tok_df", F.count(F.lit(1)).over(w_tok)
    ).select(
        "id",
        "tok",
        (F.row_number().over(w_ord) - 1).alias("pos"),
        F.count(F.lit(1)).over(w_doc).alias("n"),
    )
    # keep only the p = n - ceil(tau*n) + 1 rarest tokens (0-indexed:
    # pos < p) — the prefix postings
    prefix = ranked.where(
        F.col("pos")
        < F.expr(f"n - ((n * {tau_num} + {tau_den - 1}) DIV {tau_den}) + 1")
    )
    # materialize ONCE before the self-join (r17, guide §1.2): both
    # join sides otherwise rebuild the whole dfreq+rank pipeline —
    # the plan audit showed the Exchange/Sort/Window/Window subtree
    # DUPLICATED under the join, i.e. two full passes over the posting
    # set at any scale. Narrow (id, tok, pos, n) rows, the same
    # executor-local durability trade as the graph operators' pair
    # sets (module docstring / docs/SCALE.md §checkpoint-durability).
    # Interleaved A/B at sf0.1 (min/median of 5): 3.32/3.45 s ->
    # 2.74/2.74 s for t58 with both changes.
    prefix = prefix.localCheckpoint(eager=True)
    # candidate generation: shared prefix token + the PPJoin LENGTH
    # filter (J >= tau forces tau*|a| <= |b| <= |a|/tau) + the PPJoin
    # POSITIONAL filter, applied twice: per token inside the join (so
    # implausible rows die before the pair shuffle), then in its
    # strictly-stronger ACCUMULATED form per pair after the groupBy.
    # The per-token bound is sound because both documents' token
    # streams sort by the SAME global order, so a pair's common
    # tokens split around any shared token t into those ordered
    # before t (at most min(pos_a, pos_b)) and t-plus-later (at most
    # min(n_a - pos_a, n_b - pos_b)); a truly-similar pair satisfies
    # it at EVERY shared token, so per-token filtering drops no real
    # pair and the groupBy's c = the pair's true shared-prefix count.
    o_req = F.expr(
        f"((pa.n + pb.n) * {tau_num} + {tau_num + tau_den - 1}) "
        f"DIV {tau_num + tau_den}"
    )
    ubound = F.least(F.col("pa.pos"), F.col("pb.pos")) + F.least(
        F.col("pa.n") - F.col("pa.pos"), F.col("pb.n") - F.col("pb.pos")
    )
    # accumulated positional filter (PPJoin, group form): the shared
    # prefix tokens appear in the same global order in both docs, so
    # max(pa.pos) and max(pb.pos) are attained by the same token t*;
    # every common token OUTSIDE the shared-prefix set is globally
    # greater than t* (it sits in a suffix, and suffixes start after
    # t* in the rarity order), hence occupies positions > ia in a and
    # > jb in b — so overlap <= c + min(na-1-ia, nb-1-jb).
    acc_req = F.expr(
        f"((na + nb) * {tau_num} + {tau_num + tau_den - 1}) "
        f"DIV {tau_num + tau_den}"
    )
    grouped = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.id") < F.col("pb.id"))
            & (F.col("pa.n") * tau_num <= F.col("pb.n") * tau_den)
            & (F.col("pb.n") * tau_num <= F.col("pa.n") * tau_den)
            & (ubound >= o_req),
        )
        .groupBy(
            F.col("pa.id").alias("a_id"),
            F.col("pb.id").alias("b_id"),
            F.col("pa.n").alias("na"),
            F.col("pb.n").alias("nb"),
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("pa.pos").alias("ia"),
            F.max("pb.pos").alias("jb"),
        )
    )
    if not accumulated:
        return grouped.select("a_id", "b_id", "na", "nb")
    return grouped.where(
        F.col("c")
        + F.least(
            F.col("na") - 1 - F.col("ia"),
            F.col("nb") - 1 - F.col("jb"),
        )
        >= acc_req
    ).select("a_id", "b_id", "na", "nb")
