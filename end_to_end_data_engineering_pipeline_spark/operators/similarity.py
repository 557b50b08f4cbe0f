"""Similarity search over embedding columns (charter §2.12).

Brute-force cosine top-k as the exact baseline, plus a random-
hyperplane LSH-bucketed variant as the scale path (Charikar '02 —
see PAPERS.md).

Numeric determinism — scaled-integer fixed point: each component is
rounded once to 1e-8 fixed point (``round(x * 1e8) -> long``; both
Spark and DuckDB round half away from zero, and a float32 input times
1e8 can never straddle a rounding boundary differently between the
exact binary value and its shortest decimal representation). Dots and
norms are then EXACT int64 sums — order-independent, engine-
independent, and ~2.5x faster than decimal accumulation in Spark's
interpreted higher-order expressions. Bound: safe for |x| < 3 at
64-2048 dims (3e8^2 * 2048 < 2^63); embedding-scale data is far
inside it.

Scale design:
- scaled vectors + norms are computed once per vector (projection, no
  shuffle) and broadcast to the pair-scoring stage.
- pair generation shuffles ONLY narrow id rows; vectors never cross a
  shuffle (see queries/similarity.py sim3).
- fan_out defeats AQE's byte-based coalescing for the CPU-bound
  scoring stages (catalog.fan_out).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SCALE = 100_000_000  # 1e-8 fixed point


def scale_vec(vec: Column) -> Column:
    """float array -> exact 1e-8 fixed-point long array."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(float(SCALE))).cast("long")
    )


def dot_scaled(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two scaled vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def norm2_scaled(sv: Column) -> Column:
    return dot_scaled(sv, sv)


def cosine_scaled(dot_l: Column, n2_a: Column, n2_b: Column) -> Column:
    """Cosine from exact scaled ints (the 1e8 factors cancel), rounded
    to 6 dp. long->double casts are correctly rounded in any engine."""
    return F.round(
        dot_l.cast("double")
        / (F.sqrt(n2_a.cast("double")) * F.sqrt(n2_b.cast("double"))),
        6,
    )


def with_scaled(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, sv, n2): scaled vector + exact squared norm, computed once."""
    return emb.select(
        F.col(id_col).alias("id"), scale_vec(F.col(vec_col)).alias("sv")
    ).select("id", "sv", norm2_scaled(F.col("sv")).alias("n2"))


def cosine_topk_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Returns (query_id, cand_id, cosine, rk), rk in 1..k. The query side
    is broadcast; the corpus is scanned once, unshuffled; the top-k
    window sees only |Q| x N scored narrow rows.
    """
    from ..catalog import fan_out

    # deliberately NOT cached: both join sides read this projection, but
    # it is a narrow map over the scan — the query branch's isin() pushes
    # to the source and reads ~|Q| rows, so recomputation costs one extra
    # narrow pass. Caching the full scaled corpus pins O(corpus) executor
    # memory and (returned lazily) could never be unpersisted safely.
    base = with_scaled(fan_out(emb), id_col, vec_col)
    q = base.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("sv").alias("qsv"),
        F.col("n2").alias("qn2"),
    )
    pairs = base.join(F.broadcast(q), F.col("id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("id").alias("cand_id"),
        cosine_scaled(
            dot_scaled(F.col("qsv"), F.col("sv")), F.col("qn2"), F.col("n2")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def hyperplane(plane: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane, integer components in
    [-1000, 1000]: component d is md5('p:<plane>:<d>') first-8-hex mod
    2001, minus 1000. Computed driver-side once; reproducible by any
    engine from the same recipe."""
    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"p:{plane}:{d}".encode()).hexdigest()[:8], 16)
        out.append((h % 2001) - 1000)
    return out


def lsh_signature(
    sv: Column | str, n_planes: int = 8, dim: int = 64
) -> Column:
    """n-bit random-hyperplane signature of a SCALED vector (long).

    bit p = 1 iff sum(sv[i] * plane_p[i]) > 0 — exact int64 arithmetic
    (|sum| <= 6e7 * 1000 * dim << 2^63), so bucket assignment is
    engine- and partitioning-independent. Plane components ship as
    literal arrays in the plan (computed once on the driver).

    Built as ONE SQL-text expr (the Py4J build-cost rule,
    docs/SCALE.md): composed op-by-op, the n_planes x dim literal
    arrays + dot lambdas cost ~2 s of plan build per call — more than
    the signature's execution. ``sv`` may be a column NAME (preferred)
    or a Column, which is rendered via its SQL string."""
    sv_expr = sv if isinstance(sv, str) else sv._jc.toString()
    terms = []
    for p in range(n_planes):
        lits = ",".join(f"{int(c)}L" for c in hyperplane(p, dim))
        dot = (
            f"aggregate(zip_with({sv_expr}, array({lits}), "
            f"(x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        terms.append(
            f"CAST(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END AS BIGINT)"
        )
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def cosine_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket. ``multi_probe`` additionally probes every bucket at Hamming
    distance 1 from the query signature (n_planes extra probes per
    query — the standard recall/cost dial: candidate volume grows
    ~(1+n_planes)/2^planes of the corpus). Recall is tested against
    the brute-force oracle in tests/test_similarity.py."""
    from ..catalog import fan_out

    # uncached for the same reason as cosine_topk_bruteforce: the plan is
    # returned lazily and the corpus-wide signature table must not be
    # pinned in memory; the query branch recomputes signatures for only
    # the isin-pushed rows.
    base = with_scaled(fan_out(emb), id_col, vec_col).select(
        "id", "sv", "n2", lsh_signature("sv", n_planes, dim).alias("sig")
    )
    q = base.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("sv").alias("qsv"),
        F.col("n2").alias("qn2"),
        F.col("sig").alias("qsig"),
    )
    if multi_probe:
        probes = F.array(
            F.col("qsig"),
            *[F.col("qsig").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        q = q.select(
            "query_id", "qsv", "qn2", F.explode(probes).alias("qsig")
        )
    cand = base.join(
        F.broadcast(q),
        (F.col("sig") == F.col("qsig")) & (F.col("id") != F.col("query_id")),
    )
    if multi_probe:
        # only multi-probe can surface one candidate via several
        # probe buckets; single-probe pairs are already unique, so
        # the dedup shuffle is pure cost there
        cand = cand.dropDuplicates(["query_id", "id"])
    scored = cand.select(
        "query_id",
        F.col("id").alias("cand_id"),
        cosine_scaled(
            dot_scaled(F.col("qsv"), F.col("sv")), F.col("qn2"), F.col("n2")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _centroid_df(spark, centroids: list[list[int]]):
    """Centroids as a tiny k-row (cid, cv array, cn2) DataFrame.

    The centroid VECTORS live in a VALUES relation (data, parsed
    once), NOT as per-expression literal arrays — k x dim literals
    inlined into every distance expression cost seconds of ANALYSIS
    time per plan. SQL VALUES instead of createDataFrame avoids the
    Python->JVM serialization path."""
    vals = ",".join(
        f"({j}, array({','.join(str(int(v)) + 'L' for v in c)}),"
        f" {int(sum(x * x for x in c))}L)"
        for j, c in enumerate(centroids)
    )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(cid, cv, cn2)")


def _cell_distances(base: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(id, cid, dist) squared-L2 distance of every vector to every
    centroid: broadcast the k centroid-array rows onto the corpus
    (BroadcastNestedLoopJoin — k rows per vector, NOT a shuffle) and
    take the exact int64 dot per row. Replaces the earlier
    posexplode + pos-join + groupBy form: identical distances, but no
    n x dim x k intermediate and no (id, cid) shuffle — assignment is
    one narrow broadcast pass over the corpus (measured ~1.8x faster
    at sf0.1; at 100 TB the removed groupBy was corpus x k rows)."""
    spark = base.sparkSession
    cent = _centroid_df(spark, centroids)
    return base.join(F.broadcast(cent)).select(
        "id",
        "cid",
        (
            F.col("n2")
            - 2 * dot_scaled(F.col("sv"), F.col("cv"))
            + F.col("cn2")
        ).alias("dist"),
    )


def _assign_cells(base: DataFrame, centroids: list[list[int]], nprobe: int = 1) -> DataFrame:
    """(id, cid, rk) the nprobe nearest centroids per vector.

    nprobe=1 (every full-corpus assignment: train loop + serving-side
    corpus pass) is a plain min-struct aggregate — one hash aggregate,
    no sort; the (dist, cid) struct ordering gives the same
    deterministic tiebreak as the window formulation, which only the
    small query-side nprobe>1 path still needs."""
    d = _cell_distances(base, centroids)
    if nprobe == 1:
        return (
            d.groupBy("id")
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select("id", F.col("m.cid").alias("cid"), F.lit(1).alias("rk"))
        )
    w = Window.partitionBy("id").orderBy("dist", "cid")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= nprobe)
        .select("id", "cid", "rk")
    )


def ivf_train(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
) -> list[list[int]]:
    """Deterministic IVF coarse quantizer: k-means over scaled vectors.

    Init: centroid j = mean of vectors with id % n_centroids == j (no
    RNG -> reproducible). Each Lloyd iteration: relational cell
    assignment (one shuffle) + per-cell component means (posexplode
    groupBy); centroids (k x dim ints) return to the driver.

    ``sample_mod`` > 1 trains on the deterministic 1/sample_mod id
    sample — quantizer quality needs a representative sample, not the
    corpus; assignment stays a full-corpus pass in ivf_topk.
    """
    from ..catalog import fan_out

    if sample_mod > 1:
        emb = emb.where(F.col(id_col) % sample_mod == 0)
    base = with_scaled(fan_out(emb), id_col, vec_col).cache()
    dim = len(base.select("sv").first().sv)

    assigned = base.withColumn("c", (F.col("id") % n_centroids).cast("int"))
    centroids: list[list[int]] = []
    for _ in range(iters):
        rows = (
            assigned.select("c", F.posexplode("sv").alias("pos", "v"))
            .groupBy("c", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("c")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.round("m").cast("long").alias("m")))
                ).alias("ms")
            )
            .collect()
        )
        by_cell = {r.c: [s.m for s in r.ms] for r in rows}
        # a cell can empty out mid-iteration — keep its previous
        # centroid (or a zero vector on the first pass) so k stays fixed
        centroids = [
            by_cell.get(
                j, centroids[j] if j < len(centroids) else [0] * dim
            )
            for j in range(n_centroids)
        ]
        cells = _assign_cells(base, centroids, nprobe=1)
        assigned = base.join(cells, "id").withColumn("c", F.col("cid"))
    base.unpersist()
    return centroids


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    centroids: list[list[int]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_emb: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: score only vectors in the query's nprobe nearest
    cells. Cell assignment is relational (see _cell_distances);
    candidate selection is an equi-join on the cell id — candidates
    shrink ~n_centroids/nprobe-fold vs brute force.

    ``corpus_emb`` enables FILTERED SEARCH (the vector-DB feature:
    top-k among vectors satisfying a metadata predicate, queries
    drawn from the full set): pass ``emb.where(pred)`` and the
    predicate travels to the corpus scan as an ordinary pushed
    filter — pre-filtering, so every returned candidate satisfies
    it and k results are k qualifying results, not post-filtered
    leftovers. Cell assignment is per-vector, so filtering before
    assignment equals filtering after; doing it before lets Catalyst
    prune at the source."""
    from ..catalog import fan_out

    # uncached: base feeds three branches, but each is a narrow map over
    # the scan (query branches isin-pushed); a lazily-returned cache of
    # the scaled corpus would leak and OOM at corpus scale.
    base = with_scaled(fan_out(emb), id_col, vec_col)
    cbase = (
        base
        if corpus_emb is None
        else with_scaled(fan_out(corpus_emb), id_col, vec_col)
    )
    corpus_cells = _assign_cells(cbase, centroids, nprobe=1).select(
        "id", F.col("cid").alias("cell")
    )
    corpus = cbase.join(corpus_cells, "id")
    qbase = base.where(F.col("id").isin(query_ids))
    q_cells = _assign_cells(qbase, centroids, nprobe=nprobe).select(
        F.col("id").alias("query_id"), F.col("cid").alias("cell")
    )
    q = qbase.select(
        F.col("id").alias("query_id"),
        F.col("sv").alias("qsv"),
        F.col("n2").alias("qn2"),
    ).join(q_cells, "query_id")
    cand = corpus.join(F.broadcast(q), ["cell"]).where(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("cand_id"),
        cosine_scaled(
            dot_scaled(F.col("qsv"), F.col("sv")), F.col("qn2"), F.col("n2")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


# ---------------------------------------------------------------------------
# IVF index persistence (train once, serve many)
# ---------------------------------------------------------------------------


def ivf_save_index(
    spark, centroids: list[list[int]], path: str, meta: dict | None = None
) -> None:
    """Persist a trained coarse quantizer as a parquet index table
    (cell_id int, centroid array<long>) + optional string metadata.

    At 100 TB the quantizer is an ARTIFACT: trained on one
    representative sample, stored next to the embedding table, loaded
    by every serving query. Storing it relationally (rather than
    driver-side pickle) keeps it readable by any engine and lets the
    assignment join run without re-training."""
    import json

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..schemas import local_frame
    from .merge import _commit_table

    schema = StructType(
        [
            StructField("cell_id", IntegerType(), False),
            StructField("centroid", ArrayType(LongType(), False), False),
            StructField("meta", StringType(), True),
        ]
    )
    meta_s = json.dumps(meta or {}, sort_keys=True)
    rows = [
        {"cell_id": i, "centroid": c, "meta": meta_s if i == 0 else None}
        for i, c in enumerate(centroids)
    ]
    # a staged commit: a crash mid-write must never leave a partial
    # directory that a later isdir() check mistakes for a complete index
    _commit_table(spark, local_frame(spark, rows, schema).repartition(1), path)


def ivf_load_index(spark, path: str) -> list[list[int]]:
    """Load a persisted quantizer back into the driver-side centroid
    list ivf_topk consumes. k x dim longs — a few KB; the table scan
    is one file."""
    rows = spark.read.parquet(path).orderBy("cell_id").collect()
    return [list(r.centroid) for r in rows]


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC) — the compressed-domain ANN scale path
# ---------------------------------------------------------------------------


def pq_codebooks(
    centroids: list[list[int]], m: int = 8
) -> list[list[list[int]]]:
    """Slice full-dim trained centroids into M per-subspace codebooks
    (Jégou/Douze/Schmid TPAMI'11 product quantization; FAISS's PQ).
    Reusing the deterministic mean-trained centroids (ivf_train) keeps
    the whole PQ pipeline reproducible by any engine: subspace
    codebook m is the centroids' m-th dim/M chunk. k stays 16 here, so
    a 64-dim float vector compresses to 8 nibble codes — the 100 TB
    trick: the corpus' search representation shrinks ~64x (8 bytes vs
    64 floats), and queries scan codes + a tiny lookup table instead
    of raw vectors."""
    dim = len(centroids[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    return [
        [c[mm * dsub : (mm + 1) * dsub] for c in centroids]
        for mm in range(m)
    ]


def _argmin_code(
    sv_expr: str, lo: int, n: int, book: list[list[int]]
) -> Column:
    """Per-row nearest-codeword index for the scaled-vector slice
    [lo, lo+n): argmin_j of ||x - c_j||^2 = argmin_j of cn2_j -
    2*x.c_j — exact int64 per-row arithmetic, no join, no shuffle.
    Ties resolve to the SMALLEST j (struct min on (d, j)), the same
    (dist, j) order the relational/oracle form uses.

    Two build disciplines learned the hard way (docs/SCALE.md):

    - ONE SQL string parsed by a single ``F.expr`` — composing the
      ~2k-term tree from Python Column operators costs one Py4J round
      trip per operator, ~8 s of plan BUILD per query (20x the
      execution time).
    - the codebook stays a literal array-of-structs consumed by a
      ``transform`` lambda — NOT flattened into open-coded mul-add
      chains: the flat form generates megabytes of Java whose Janino
      compile ran seconds PER PASS (codegen cache misses on fresh
      exprIds) and OOM'd a 16 g driver when projection collapse
      duplicated it into window sort keys. The lambda body is
      interpreted, but 2k multiplies/row is microseconds — measured
      0.5 s vs 3-6.5 s per corpus pass at sf0.1."""
    structs = ",".join(
        f"named_struct('j', {j}, 'cn2', {int(sum(v * v for v in cv))}L,"
        f" 'cv', array({','.join(str(int(v)) + 'L' for v in cv)}))"
        for j, cv in enumerate(book)
    )
    sl = f"slice({sv_expr}, {lo}, {n})"
    return F.expr(
        f"cast(array_min(transform(array({structs}), s -> named_struct("
        f"'d', s.cn2 - 2*aggregate(zip_with(s.cv, {sl}, (a, b) -> a*b),"
        f" 0L, (acc, v) -> acc + v), 'j', s.j))).j as int)"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, c0..c{M-1}): the corpus compressed to M codes per vector.
    Two narrow projections over the scan (component staging + argmin
    chains) — every argmin is a per-row codegen expression; nothing
    shuffles. At 100 TB this table is the ~64x-smaller search
    structure that pq_topk scans instead of the embedding column."""
    from ..catalog import fan_out

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    base = with_scaled(fan_out(emb), id_col, vec_col)
    return base.select(
        "id",
        *[
            _argmin_code("sv", mm * dsub + 1, dsub, codebooks[mm]).alias(
                f"c{mm}"
            )
            for mm in range(m)
        ],
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    centroids: list[list[int]],
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC approximate top-k by squared L2: corpus vectors are
    scanned as M small codes; each query's exact (uncompressed) vector
    becomes an M x K lookup table of exact-int subspace distances
    (asymmetric distance computation), and a candidate's distance is
    M map lookups + adds — no per-pair vector math at all.

    Plan shape for scale: the code table is a per-row projection
    (pq_encode, zero shuffle); the |Q| lookup-table rows are collected
    driver-side (|Q| x M x K longs — same bounded-artifact class as
    the IVF centroid list) and broadcast back as a VALUES relation, so
    scoring is scan -> broadcast nested-loop (|Q| rows) -> per-row
    map lookups -> per-query top-k window. Returns (query_id, cand_id,
    adist, rk); adist is the exact int64 PQ distance, reproduced
    bit-for-bit by the DuckDB oracle (sim8)."""
    books = pq_codebooks(centroids, m)
    dsub = len(books[0][0])
    codes = pq_encode(emb, codebooks=books, id_col=id_col, vec_col=vec_col)

    # exact scaled query vectors: |Q| rows to the driver (bounded)
    qrows = (
        with_scaled(
            emb.where(F.col(id_col).isin(query_ids)), id_col, vec_col
        )
        .select("id", "sv")
        .collect()
    )
    entries = []
    for r in qrows:
        maps = []
        for mm in range(m):
            qs = list(r.sv)[mm * dsub : (mm + 1) * dsub]
            qn2 = sum(x * x for x in qs)
            ds = [
                qn2
                - 2 * sum(x * y for x, y in zip(qs, cv))
                + sum(y * y for y in cv)
                for cv in books[mm]
            ]
            maps.append(
                "map("
                + ",".join(f"{j},{int(d)}L" for j, d in enumerate(ds))
                + ")"
            )
        entries.append(f"({int(r.id)}L, {', '.join(maps)})")
    spark = emb.sparkSession
    qtab = spark.sql(
        "SELECT * FROM VALUES "
        + ",".join(entries)
        + " AS t(query_id, "
        + ", ".join(f"d{mm}" for mm in range(m))
        + ")"
    )
    # materialize the code table: this IS the PQ index build (the
    # persisted artifact a serving deployment writes once and scans
    # per query — ivf_save_index's compressed analog). It also keeps
    # the argmin expressions out of downstream operators: without the
    # barrier, projection collapse inlines all M code argmins into the
    # top-k window's SORT KEYS, whose codegen OOMs the driver
    codes = codes.persist()
    scored = codes.join(
        F.broadcast(qtab), F.col("id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("id").alias("cand_id"),
        sum(
            [F.element_at(F.col(f"d{mm}"), F.col(f"c{mm}")) for mm in range(m)],
            start=F.lit(0).cast("long"),
        ).alias("adist"),
    )
    w = Window.partitionBy("query_id").orderBy("adist", "cand_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    centroids: list[list[int]],
    k: int = 10,
    m: int = 8,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse cell probing composed with compressed-domain ADC
    scoring — the canonical web-scale ANN architecture (FAISS IVFPQ;
    Jégou et al. TPAMI'11). The IVF stage prunes ~(1 - nprobe/k_cells)
    of the corpus before any scoring; the PQ stage scores survivors by
    M map lookups instead of vector math.

    Plan shape: ONE per-row projection computes each corpus vector's
    cell AND its M codes (the cell argmin is the same exact-int
    expression as a subspace code argmin, applied to the full vector —
    zero shuffles, all codegen); the query side (nprobe probed cells x
    ADC tables, |Q| x nprobe rows) is exact driver-side int arithmetic
    broadcast back as a VALUES relation; candidates come from a
    broadcast equi-join on the cell id. The only shuffle in the whole
    query is the final per-query top-k window. Deterministic
    end-to-end — sim9 carries a full value-hash DuckDB oracle."""
    books = pq_codebooks(centroids, m)
    dsub = len(books[0][0])
    from ..catalog import fan_out

    dim = len(centroids[0])
    base = with_scaled(fan_out(emb), id_col, vec_col)
    corpus = base.select(
        "id",
        _argmin_code("sv", 1, dim, centroids).alias("cell"),
        *[
            _argmin_code("sv", mm * dsub + 1, dsub, books[mm]).alias(
                f"c{mm}"
            )
            for mm in range(m)
        ],
    )

    qrows = (
        with_scaled(
            emb.where(F.col(id_col).isin(query_ids)), id_col, vec_col
        )
        .select("id", "sv")
        .collect()
    )
    cn2s = [sum(x * x for x in c) for c in centroids]
    entries = []
    for r in qrows:
        sv = list(r.sv)
        # nprobe nearest cells, (dist, cid) order — exact ints
        cd = sorted(
            (
                cn2s[j] - 2 * sum(x * y for x, y in zip(sv, centroids[j])),
                j,
            )
            for j in range(len(centroids))
        )[:nprobe]
        maps = []
        for mm in range(m):
            qs = sv[mm * dsub : (mm + 1) * dsub]
            qn2 = sum(x * x for x in qs)
            ds = [
                qn2
                - 2 * sum(x * y for x, y in zip(qs, cv))
                + sum(y * y for y in cv)
                for cv in books[mm]
            ]
            maps.append(
                "map("
                + ",".join(f"{j},{int(d)}L" for j, d in enumerate(ds))
                + ")"
            )
        for _, cell in cd:
            entries.append(
                f"({int(r.id)}L, {int(cell)}, {', '.join(maps)})"
            )
    spark = emb.sparkSession
    qtab = spark.sql(
        "SELECT * FROM VALUES "
        + ",".join(entries)
        + " AS t(query_id, cell, "
        + ", ".join(f"d{mm}" for mm in range(m))
        + ")"
    )
    # materialize cell + codes: the IVFPQ index build (see pq_topk —
    # also required so the giant argmin exprs can't be inlined into
    # the window sort's codegen, which OOMs)
    corpus = corpus.persist()
    scored = corpus.join(
        F.broadcast(qtab),
        (corpus["cell"] == qtab["cell"])
        & (F.col("id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("id").alias("cand_id"),
        sum(
            [F.element_at(F.col(f"d{mm}"), F.col(f"c{mm}")) for mm in range(m)],
            start=F.lit(0).cast("long"),
        ).alias("adist"),
    )
    w = Window.partitionBy("query_id").orderBy("adist", "cand_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def pq_topk_refined(
    emb: DataFrame,
    query_ids: list[int],
    centroids: list[list[int]],
    k: int = 10,
    shortlist: int = 50,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN (the canonical serving pipeline: FAISS's
    IndexRefine / DiskANN's rerank step): a cheap PQ-ADC pass
    shortlists ``shortlist`` candidates per query from the compressed
    codes, then ONLY those rows are re-ranked by exact scaled-int L2
    against the uncompressed vectors. Quantization error affects
    recall only through the shortlist; the final order is exact.

    Scale shape: the shortlist (|Q| x shortlist ids) is BROADCAST
    against the corpus vector table, so the refine stage is a scan +
    broadcast semi-join + per-row exact dot — the full-precision
    column is read once, never shuffled, and only for candidates.
    Returns (query_id, cand_id, dist, rk) with the exact int64
    squared-L2 distance."""
    cand = pq_topk(
        emb, query_ids, centroids, k=shortlist, m=m,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "cand_id")
    vecs = with_scaled(emb, id_col, vec_col)
    qv = vecs.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("sv").alias("qsv"),
        F.col("n2").alias("qn2"),
    )
    joined = vecs.join(
        F.broadcast(cand), vecs["id"] == cand["cand_id"]
    ).join(F.broadcast(qv), "query_id")
    dist = (
        F.col("qn2")
        - 2 * dot_scaled(F.col("qsv"), F.col("sv"))
        + F.col("n2")
    )
    scored = joined.select(
        "query_id", F.col("id").alias("cand_id"), dist.alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy("dist", "cand_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicate PAIRS via hyperplane-LSH banding — the
    unblocked scale path for corpus-wide near-dup (label-blocked sim3
    needs a label column; real corpora have none).

    Self-join restricted to equal LSH buckets: candidate volume drops
    from N^2/2 to sum_b(|b|^2)/2 ~ N^2/2^(n_planes+1) for balanced
    buckets — the exact banding argument of minhash LSH (dedup_fuzzy),
    applied to cosine space: vectors with cosine >= t agree on a
    random hyperplane with prob 1 - acos(t)/pi (~0.80 + at t=0.8), so
    a 6-plane single-band bucket keeps ~26% of true pairs per band;
    recall is asserted against the exact pair set in tests, and the
    whole pipeline (fixed-point scaling, signature, bucket join, exact
    rescoring) is deterministic, so it sits under a full value-hash
    DuckDB oracle.

    Scale knobs mirror minhash_lsh_pairs: more bands (signature
    rotations) raise recall; bucket-size caps and salts apply
    unchanged since this is the same banded self-join shape.
    """
    from ..catalog import fan_out

    # narrow-pair shape (the sim3 rule, same rationale as knn_graph):
    # the bucket self-join moves only (id, sig); the vector arrays
    # re-attach by id after, shuffling once per corpus row rather
    # than once per candidate pair
    base = with_scaled(fan_out(emb), id_col, vec_col).select(
        "id", "sv", "n2", lsh_signature("sv", n_planes, dim).alias("sig")
    )
    sigs = base.select("id", "sig")
    a = sigs.select(F.col("id").alias("id_a"), "sig")
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = a.join(
        b, (F.col("sig") == F.col("sig_b")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    va = base.select(
        F.col("id").alias("id_a"),
        F.col("sv").alias("sv_a"),
        F.col("n2").alias("n2_a"),
    )
    vb = base.select(
        F.col("id").alias("id_b"),
        F.col("sv").alias("sv_b"),
        F.col("n2").alias("n2_b"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_scaled(
                dot_scaled(F.col("sv_a"), F.col("sv_b")),
                F.col("n2_a"),
                F.col("n2_b"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): 1 byte/dim compressed-domain scoring
# ---------------------------------------------------------------------------


def with_sq8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, q, qn2): symmetric max-abs int8 scalar quantization.

    Each vector's 1e-8 fixed-point components are rescaled so its
    largest |component| maps to 127 — the standard per-vector SQ8
    recipe (FAISS ScalarQuantizer QT_8bit_direct family). The rounding
    is PURE INTEGER round-half-away-from-zero
    (``sign(v) * ((|v|*254 + m) div (2m))``), so codes are
    bit-identical in any engine — no float division anywhere.

    Scale story: SQ8 is the memory/bandwidth dial — 1 byte/dim vs 4
    (float32), so the compressed corpus scans 4x faster and a 100 TB
    embedding column becomes ~25 TB; scoring stays exact-int (|q|<=127
    so a 2048-dim dot fits easily in int64). Unlike PQ (sim8) the
    codes preserve per-dimension structure, so the SAME dot-product
    operator scores them — no ADC table per query. Quantization is a
    per-row projection: zero shuffles.
    """
    base = with_scaled(emb, id_col, vec_col)  # id, sv, n2
    # stage the per-vector max BEFORE the quantize lambda references it
    # (HOF staging rule, docs/SCALE.md) — an inlined max would re-reduce
    # the whole array once per element
    staged = base.select(
        "id",
        "sv",
        F.greatest(
            F.array_max(F.transform(F.col("sv"), lambda v: F.abs(v))),
            F.lit(1).cast("long"),
        ).alias("m"),
    )
    quant = staged.select(
        "id",
        F.expr(
            "transform(sv, v -> CAST(sign(v) AS BIGINT)"
            " * ((abs(v) * 254 + m) DIV (2 * m)))"
        ).alias("q"),
    )
    return quant.select("id", "q", norm2_scaled(F.col("q")).alias("qn2"))


def sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors scored ENTIRELY in the int8 compressed
    domain: (query_id, cand_id, q_cosine, rk). Same plan shape as the
    exact brute-force baseline (broadcast queries, one unshuffled
    corpus scan, per-query top-k window over narrow scored rows) —
    only the representation changed, which is exactly the SQ8
    contract. Recall vs the exact top-k is regression-tested
    (tests/test_similarity.py)."""
    from ..catalog import fan_out

    base = with_sq8(fan_out(emb), id_col, vec_col)
    qside = base.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qn2").alias("qqn2"),
    )
    pairs = base.join(F.broadcast(qside), F.col("id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("id").alias("cand_id"),
        cosine_scaled(
            dot_scaled(F.col("qq"), F.col("q")), F.col("qqn2"), F.col("qn2")
        ).alias("q_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("q_cosine").desc(), F.col("cand_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    multi_probe: bool = False,
) -> DataFrame:
    """Corpus-wide approximate kNN graph: (src_id, dst_id, cosine, rk)
    with each vector's top-k neighbors AMONG ITS LSH BUCKET — the
    graph construction step under dedup clustering, label propagation,
    or diversity selection, where every node (not a handful of query
    ids) needs neighbors.

    Scale shape: signatures are per-row (zero shuffles — the sim2
    machinery); candidates come from the bucket SELF-JOIN, so scored
    pairs are sum-of-bucket² not n² — 2^n_planes buckets dial the
    candidate volume exactly like the LSH near-dup pipelines, and the
    only other shuffle is the per-node top-k window. Vectors whose
    bucket holds fewer than k others emit fewer rows (recall comes
    from more planes/probes, regression-tested on clustered data)."""
    from ..catalog import fan_out

    # NARROW-PAIR shape (the sim3 rule): candidate generation joins
    # only (id, sig) rows, and the 512-byte vector arrays re-attach by
    # id AFTER — so the arrays shuffle once per CORPUS row, never once
    # per candidate pair. Measured at 200k clustered vectors / ~20M
    # candidates: the wide formulation shuffles ~20 GB of arrays and
    # took 276 s; this one moves ~100 MB (docs/SCALE.md).
    base = with_scaled(fan_out(emb), id_col, vec_col).select(
        "id", "sv", "n2", lsh_signature("sv", n_planes, dim).alias("sig")
    )
    sigs = base.select("id", "sig")
    if max_bucket is not None:
        # the band-cap analog (dedup_fuzzy.minhash_lsh_pairs): a hot
        # bucket contributes b^2 candidates; buckets past the cap are
        # dropped wholesale (their members keep neighbors only via
        # OTHER probes at higher plane counts) — the bounded-list rule
        # every IVF/LSH serving system applies. Changes results, so
        # the oracle query leaves it off; stress pytest pins it.
        sizes = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("__bs"))
        sigs = sigs.join(
            F.broadcast(sizes.where(F.col("__bs") <= max_bucket)), "sig"
        ).drop("__bs")
    if multi_probe:
        # hamming-1 probing (the cosine_topk_lsh dial applied
        # graph-wide): each node also probes the n_planes buckets one
        # bit away, so sparse-bucket nodes recover neighbors at
        # (1 + n_planes)x candidate cost; every probe value is
        # distinct, so a pair can match at most once — no dedup pass
        probes = F.array(
            F.col("sig"),
            *[F.col("sig").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        a = sigs.select(
            F.col("id").alias("src_id"), F.explode(probes).alias("sig")
        )
    else:
        a = sigs.select(F.col("id").alias("src_id"), "sig")
    b = sigs.select(F.col("id").alias("dst_id"), F.col("sig").alias("sig_b"))
    pairs = a.join(
        b, (F.col("sig") == F.col("sig_b")) & (F.col("src_id") != F.col("dst_id"))
    ).select("src_id", "dst_id")
    va = base.select(
        F.col("id").alias("src_id"),
        F.col("sv").alias("sv_a"),
        F.col("n2").alias("n2_a"),
    )
    vb = base.select(
        F.col("id").alias("dst_id"),
        F.col("sv").alias("sv_b"),
        F.col("n2").alias("n2_b"),
    )
    scored = (
        pairs.join(va, "src_id")
        .join(vb, "dst_id")
        .select(
            "src_id",
            "dst_id",
            cosine_scaled(
                dot_scaled(F.col("sv_a"), F.col("sv_b")),
                F.col("n2_a"),
                F.col("n2_b"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("dst_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .withColumn("rk", F.col("rk").cast("long"))
    )


# ---------------------------------------------------------------------------
# IVF as TABLE LAYOUT: inverted lists stored as parquet partitions
# ---------------------------------------------------------------------------


def ivf_partitioned_write(
    emb: DataFrame,
    centroids: list[list[int]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the corpus PARTITIONED BY its IVF cell — the inverted
    lists become the table layout (``path/cell=N/``). ``ivf_topk``
    prunes candidates with a post-scan equi-join, which still READS
    the whole corpus; at 100 TB the scan itself is the cost, so the
    index must prune IO, not just compute. With cell as a partition
    column, a probe's ``cell IN (...)`` filter resolves at PLANNING
    time (PartitionFilters — directories never listed, files never
    opened), so a 3-of-16-cell probe reads ~3/16 of the BYTES.
    This is Iceberg/Hive partition-transform thinking applied to an
    ANN index: FAISS's inverted lists, expressed as data layout.

    One full-corpus pass: assign (no shuffle beyond the write's own
    partitionBy fan-out) and write. Re-run to rebuild after centroid
    retraining, exactly like any index rebuild."""
    from ..catalog import fan_out

    base = with_scaled(fan_out(emb), id_col, vec_col)
    cells = _assign_cells(base, centroids, nprobe=1).select(
        F.col("id").alias("__cell_id"), F.col("cid").alias("cell")
    )
    out = emb.join(cells, emb[id_col] == F.col("__cell_id")).drop(
        "__cell_id"
    )
    out.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_partitioned_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over an :func:`ivf_partitioned_write` store: identical
    results to :func:`ivf_topk` (same centroids/queries/nprobe — the
    oracle is shared), but the candidate restriction happens at the
    SCAN via partition pruning instead of a post-scan join.

    The probed cell set (|queries| x nprobe ids, bounded driver
    metadata like IVF centroids themselves) is collected and inlined
    as a literal IN-list, so Catalyst turns it into PartitionFilters:
    unprobed ``cell=N`` directories are never read. Per-query
    restriction to that query's OWN cells then rides the broadcast
    (cell, query) join exactly as in ivf_topk."""
    qbase = with_scaled(queries, id_col, vec_col)
    q_cells = _assign_cells(qbase, centroids, nprobe=nprobe).select(
        F.col("id").alias("query_id"), F.col("cid").alias("cell")
    )
    # probed cells come from the tiny assignment table directly (its
    # recompute is one pass over the query set) — no cache() that
    # would otherwise leak a pinned relation into executor memory
    # across repeated library calls
    probed = sorted(
        {r.cell for r in q_cells.select("cell").distinct().collect()}
    )
    q = qbase.select(
        F.col("id").alias("query_id"),
        F.col("sv").alias("qsv"),
        F.col("n2").alias("qn2"),
    ).join(q_cells, "query_id")
    corpus = spark.read.parquet(path).where(F.col("cell").isin(probed))
    return _probe_corpus_topk(q, corpus, k, id_col, vec_col)


def _probe_corpus_topk(
    q: DataFrame, corpus: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Shared scoring tail for cell-pruned IVF stores: broadcast the
    (query, cell) probe table against the already-pruned corpus,
    cosine-score, top-k per query. Identical tiebreaks to ivf_topk —
    the oracle stays shared whatever pruned the scan."""
    cbase = corpus.select(
        F.col(id_col).alias("id"),
        F.col("cell"),
        scale_vec(F.col(vec_col)).alias("sv"),
    ).withColumn("n2", norm2_scaled(F.col("sv")))
    cand = cbase.join(F.broadcast(q), ["cell"]).where(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("cand_id"),
        cosine_scaled(
            dot_scaled(F.col("qsv"), F.col("sv")), F.col("qn2"), F.col("n2")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def versioned_ivf_write(
    spark: SparkSession,
    emb: DataFrame,
    centroids: list[list[int]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Commit an IVF index BUILD as a snapshot version: the
    cell-assigned corpus goes through
    operators/snapshots.py:snapshot_write_partitioned (manifest-level
    cell pruning) with the quantizer centroids embedded in the
    manifest's ``extra`` — so one atomic commit captures BOTH halves
    of the index (coarse quantizer + inverted lists), and time travel
    restores a coherent index, never v1 lists under v0 centroids.
    Returns the committed version.

    This is what an index REBUILD needs at 100 TB: retraining
    centroids re-partitions every vector, so the rebuild must be
    all-or-nothing while serving continues — here searchers keep
    resolving the old manifest until the new one links in (and can pin
    a version outright for reproducible eval runs). Build cost is the
    same single corpus pass as ivf_partitioned_write."""
    from ..catalog import fan_out
    from .snapshots import snapshot_write_partitioned

    base = with_scaled(fan_out(emb), id_col, vec_col)
    cells = _assign_cells(base, centroids, nprobe=1).select(
        F.col("id").alias("__cell_id"), F.col("cid").alias("cell")
    )
    out = emb.join(cells, emb[id_col] == F.col("__cell_id")).drop(
        "__cell_id"
    )
    return snapshot_write_partitioned(
        spark,
        path,
        out,
        "cell",
        mode="overwrite",
        extra={"centroids": [[int(x) for x in c] for c in centroids]},
    )


def versioned_ivf_append(
    spark: SparkSession,
    inc: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append an ingest INCREMENT to a committed
    :func:`versioned_ivf_write` store without rebuilding: the new
    vectors are cell-assigned under the COMMITTED quantizer (centroids
    loaded from the current manifest — an increment must never be
    assigned under different centroids than the lists it joins), then
    appended through snapshot_write_partitioned(mode='append'), which
    merges the partition map and re-commits the same centroids
    atomically. Existing inverted-list files carry by reference; the
    commit stages only the increment's cells' files.

    This is the ANN half of the daily-ingest story t35's
    incremental_lsh_pairs tells for MinHash: indexing cost is
    O(increment), not O(corpus), while a post-append search is
    IDENTICAL to an index built over base+increment in one shot (same
    quantizer, same tiebreaks — sim20 pins this under the shared
    oracle). Retraining the quantizer remains an explicit
    versioned_ivf_write rebuild, as it must be: new centroids
    re-partition every vector."""
    from ..catalog import fan_out
    from .snapshots import snapshot_manifest, snapshot_write_partitioned

    m = snapshot_manifest(path)
    centroids = [[int(x) for x in c] for c in m["extra"]["centroids"]]
    base = with_scaled(fan_out(inc), id_col, vec_col)
    cells = _assign_cells(base, centroids, nprobe=1).select(
        F.col("id").alias("__cell_id"), F.col("cid").alias("cell")
    )
    out = inc.join(cells, inc[id_col] == F.col("__cell_id")).drop(
        "__cell_id"
    )
    return snapshot_write_partitioned(
        spark,
        path,
        out,
        "cell",
        mode="append",
        extra={"centroids": centroids},
    )


def versioned_ivf_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    version: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over a :func:`versioned_ivf_write` store. No centroid
    argument: the quantizer is LOADED FROM THE PINNED MANIFEST, so a
    version pin reproduces the exact search of that index build even
    after rebuilds — and the manifest is resolved ONCE, so centroids
    and file list always come from the same commit under concurrency.
    Candidate restriction is manifest pruning
    (snapshot_read_partitioned): a probe opens only its cells' files,
    same IO shape as hive PartitionFilters but time-travelable.
    Results are identical to ivf_topk over the committed corpus with
    the committed centroids (shared oracle)."""
    from .snapshots import snapshot_manifest, snapshot_read_partitioned

    m = snapshot_manifest(path, version)
    centroids = [[int(x) for x in c] for c in m["extra"]["centroids"]]
    qbase = with_scaled(queries, id_col, vec_col)
    q_cells = _assign_cells(qbase, centroids, nprobe=nprobe).select(
        F.col("id").alias("query_id"), F.col("cid").alias("cell")
    )
    # probed cells from the tiny assignment table — no leaked cache()
    # (same rationale as ivf_partitioned_topk)
    probed = sorted(
        {r.cell for r in q_cells.select("cell").distinct().collect()}
    )
    q = qbase.select(
        F.col("id").alias("query_id"),
        F.col("sv").alias("qsv"),
        F.col("n2").alias("qn2"),
    ).join(q_cells, "query_id")
    corpus = snapshot_read_partitioned(
        spark, path, values=probed, version=m["version"]
    )
    return _probe_corpus_topk(q, corpus, k, id_col, vec_col)


def rrf_fuse(
    rankings: list[DataFrame], k: int = 10, rrf_k: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of ANN retriever outputs — the standard
    hybrid-search combiner (Cormack/Clarke/Buettcher 2009): candidate
    score = sum over retrievers of 1/(rrf_k + rank), missing rank
    contributes 0; re-rank by the fused score. Each input must carry
    (query_id, cand_id, rk). Rank-based (not score-based) fusion is
    what makes heterogeneous retrievers (LSH buckets, IVF cells,
    lexical BM25...) combinable without score calibration.

    Engine-exact: each contribution is one IEEE double division of
    small ints (correctly rounded everywhere), and the fused sum is a
    fixed left-to-right chain of coalesced additions, so any engine
    reproduces it bit-for-bit — which is why sim15 carries a full
    value-hash oracle. Scale: inputs are top-k tables (|Q| x k rows,
    driver-bounded); the fusion is |retrievers|-1 joins of those tiny
    relations plus one window — negligible next to retrieval itself."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    contribs = []
    for i, r in enumerate(rankings):
        contribs.append(
            r.select(
                "query_id",
                "cand_id",
                (F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("rk"))).alias(
                    f"__c{i}"
                ),
            )
        )
    fused = contribs[0]
    for c in contribs[1:]:
        fused = fused.join(c, ["query_id", "cand_id"], "full_outer")
    score = F.coalesce(F.col("__c0"), F.lit(0.0))
    for i in range(1, len(contribs)):
        score = score + F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("rrf", score)
        .select("query_id", "cand_id", "rrf")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def mmr_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy maximal-marginal-relevance diversified top-k
    (Carbonell & Goldstein 1998): select ``k`` results per query
    maximizing ``lam * cos(q, d) - mu * max_{s in selected} cos(d, s)``
    — the curation-side retrieval primitive (diverse few-shot
    selection, dedup-aware retrieval) that plain top-k lacks: a
    query whose neighborhood is one tight near-dup cluster gets k
    copies of the same document from :func:`cosine_topk_bruteforce`,
    and one representative plus genuinely distinct results from MMR.
    ``lam`` and ``mu`` are INDEPENDENT params (not mu = 1 - lam):
    float subtraction would make the oracle's literal and Python's
    computed value differ in the last ulp.

    Returns (query_id, cand_id, mmr_rank 1..k, cosine = rel to the
    query). All similarity math is the exact fixed-point cosine the
    other sim operators share, so every score is engine-reproducible.

    Scale shape: one brute-force scoring pass (broadcast query side,
    unshuffled corpus scan) narrows to a per-query candidate POOL of
    ``pool`` rows; everything after — the pool x pool pairwise
    similarities and the k greedy rounds — is bounded by
    |queries| x pool^2, independent of corpus size. The greedy
    rounds run as DataFrame joins with lineage truncated per round
    (localCheckpoint, same discipline as graph.py's CC loop); at
    1000 queries x pool 20 that is 400k narrow rows per round. Swap
    the brute-force pool source for ivf_topk output to keep the
    corpus pass sublinear too."""
    from ..catalog import fan_out

    # the candidate pool IS brute-force top-k (same scoring, same
    # (cosine desc, cand_id) tiebreak — one maintained copy of that
    # contract); join the scaled vectors back for the pairwise stage
    base = with_scaled(fan_out(emb), id_col, vec_col)
    pool_df = (
        cosine_topk_bruteforce(
            emb, query_ids, k=pool, id_col=id_col, vec_col=vec_col
        )
        .select("query_id", "cand_id", F.col("cosine").alias("rel"))
        .join(
            base.select(F.col("id").alias("cand_id"), "sv", "n2"),
            "cand_id",
        )
        .localCheckpoint(eager=True)  # bounded: |queries| x pool rows
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "cand_id")
    a = pool_df.select(
        "query_id",
        F.col("cand_id").alias("a_id"),
        F.col("sv").alias("a_sv"),
        F.col("n2").alias("a_n2"),
    )
    b = pool_df.select(
        "query_id",
        F.col("cand_id").alias("b_id"),
        F.col("sv").alias("b_sv"),
        F.col("n2").alias("b_n2"),
    )
    pairs = (
        a.join(b, "query_id")
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            cosine_scaled(
                dot_scaled(F.col("a_sv"), F.col("b_sv")),
                F.col("a_n2"),
                F.col("b_n2"),
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)  # |queries| x pool^2 narrow rows
    )
    cands = pool_df.select("query_id", "cand_id", "rel")
    chosen = (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            F.lit(1).cast("long").alias("mmr_rank"),
            "rel",
        )
    )
    for i in range(2, k + 1):
        chosen = chosen.localCheckpoint(eager=True)
        pen = (
            pairs.join(
                chosen.select("query_id", F.col("cand_id").alias("b_id")),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", "a_id")
            .agg(F.max("sim").alias("pen"))
        )
        rem = cands.join(
            chosen.select("query_id", "cand_id"),
            ["query_id", "cand_id"],
            "left_anti",
        )
        sc = rem.join(
            pen,
            (rem["query_id"] == pen["query_id"])
            & (rem["cand_id"] == pen["a_id"]),
        ).select(
            rem["query_id"],
            "cand_id",
            "rel",
            (F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("pen")).alias(
                "mmr"
            ),
        )
        wi = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), "cand_id"
        )
        nxt = (
            sc.withColumn("rn", F.row_number().over(wi))
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                F.lit(i).cast("long").alias("mmr_rank"),
                "rel",
            )
        )
        chosen = chosen.unionByName(nxt)
    return chosen
