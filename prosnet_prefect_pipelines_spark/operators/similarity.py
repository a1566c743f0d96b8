"""Approximate-nearest-neighbor search over embedding columns
(north-star extension; BASELINE.json).

- ``cosine_topk``: brute-force all-pairs cosine top-k — the exactness
  baseline. O(n^2 d); fine for verification scale, the wrong shape at
  100 TB.
- ``rhp_lsh_topk``: random-hyperplane LSH — b-bit sign signatures bucket
  the vectors; top-k is computed within buckets only. Linear scan cost,
  shuffle on the bucket key; the scale path. Hyperplane coefficients are
  a fixed deterministic function of (plane, dimension) so both engines
  (and reruns) agree.

All dot products run as ordered folds over the array (zip_with +
aggregate on the JVM), cast to double before multiplication; cosines are
rounded to 6 dp and ties broken by neighbor id — deterministic,
engine-independent rankings.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ivf_pq_topk's candidate table carries actual codeword float vectors
# per corpus row (O(|corpus| x dim) bytes). Broadcasting it is the fast
# intra-node plan, but at 100 TB it would pin the whole index on the
# driver and every executor — so the broadcast is gated on estimated
# size and falls back to a shuffled cell equi-join above the threshold
# (same expressions, same values; only the physical join moves), the
# q_pipeline115 volume-threshold escalation pattern.
_PQ_BROADCAST_BYTES = float(
    os.environ.get("SPARK_GRAFT_PQ_BROADCAST_BYTES", str(256 * 1024 * 1024))
)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Ordered-fold dot product: ((0 + a0*b0) + a1*b1) + ... — the sum
    order every engine (and the DuckDB oracles) reproduces exactly.

    With ``dim`` known, the fold is unrolled into a left-associative
    add chain — IDENTICAL IEEE operations in identical order (getItem
    replaces the zip_with element walk), but ~2x faster under
    interpreted eval because the HOF path allocates an intermediate
    array per row and dispatches a lambda per element. Pass dim=None
    for variable-length arrays (falls back to the HOF fold).

    Choosing: the unrolled chain costs ~2 s of Catalyst OPTIMIZATION
    per plan branch it appears in (measured r4: knn_join_batch spent
    2.7 s planning / 0.8 s executing with dim=64, 0.87 s total with the
    fold) — it only pays on FLAT plans whose pair volume makes
    execution dominate (>= ~10^8 element-evals through ONE projection,
    e.g. brute-force cosine_topk at scale). In iterative or
    multi-branch plans (k-means loops, LSH self-joins) the duplicated
    tree also inflates every optimizer pass — use the fold there.

    Divergence on malformed input: with ``dim`` set, getItem(i) yields
    NULL for any vector SHORTER than dim and the NULL propagates
    through the whole score (the row silently drops through downstream
    score filters); the HOF path instead folds over the actual zipped
    length and returns a number. Fixed-width corpora (every caller
    here) never see the difference; validate ``size(v) = dim``
    upstream before trusting the unrolled path on untrusted input.
    """
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def norm(a: Column, dim: int | None = None) -> Column:
    """L2 norm as an ordered fold; same ``dim`` unrolling, planning-cost
    and short-vector caveats as ``dot`` (see its docstring)."""
    if dim is None:
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * a.getItem(i).cast("double")
    return F.sqrt(acc)


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """-> (id, neighbor, cos): exact top-k neighbors per vector.

    cos rounded to 6 dp, rank ties broken by neighbor id.

    TEST/ORACLE TIER ONLY: the self-join is a cartesian product —
    O(n²d). Use ``rhp_lsh_topk`` (auto-scaled buckets) or ``ivf_topk``
    as the default ANN entry points at scale.
    """
    # norms hoisted to one fold per VECTOR instead of two per PAIR —
    # bit-identical to cosine() (same fold + sqrt expressions, same IEEE
    # op order; only the evaluation site moves), 3x less fold work in
    # the quadratic stage
    from prosnet_prefect_pipelines_spark.session import fan_out

    # the pair join is a nested-loop whose parallelism = LEFT-side
    # partitions; a single-row-group local parquet scan ran the whole
    # O(n^2 d) stage on ONE core (measured 17.6 s -> ~1 s at sf0.1 for
    # mutual_nn_pairs). The fan-out shuffle is |n| rows — nothing next
    # to the quadratic stage it parallelizes.
    left = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col), dim).alias("na"),
    )
    right = df.select(
        F.col(id_col).alias("neighbor"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col), dim).alias("nb"),
    )
    pairs = left.join(right, F.col("id") != F.col("neighbor"))
    scored = pairs.select(
        "id",
        "neighbor",
        F.round(
            dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("neighbor"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("id", "neighbor", "cos")
    )


def _argmax_row(
    df: DataFrame, group: list[str], score: str, tie: str, keep: list[str]
) -> DataFrame:
    """One row per group: exactly the row ``row_number() OVER
    (PARTITION BY group ORDER BY score DESC, tie ASC) = 1`` keeps,
    computed as a partial+final ``max(struct(score, -tie, ...))``
    aggregate instead of an Exchange+Sort+Window over the full fan-out
    (opt r12, guide §2.3/§2.4 — aggregate before you shuffle: the
    map-side partial max collapses the n_cells-way assignment fan-out
    to one row per group BEFORE the exchange, and the sort disappears).

    Order-exactness: a DESC sort key is Spark's single total order on
    the type reversed with NULLS LAST — i.e. exactly the reverse of the
    ASC order (NULL < -Inf < finite < +Inf < NaN) that struct-field
    comparison inside ``max`` also uses, so the aggregate picks the
    identical row for NULL and NaN scores and for ties (the negated tie
    column turns ``tie ASC`` into a max; ids are non-negative, so the
    negation cannot overflow).
    """
    packed = F.max(
        F.struct(
            F.col(score).alias("_s"),
            (-F.col(tie)).alias("_nt"),
            *[F.col(c).alias(c) for c in [tie, *keep]],
        )
    ).alias("_am")
    cols = [F.col(g) for g in group]
    cols.append(F.col("_am._s").alias(score))
    cols.append(F.col(f"_am.{tie}").alias(tie))
    cols += [F.col(f"_am.{c}").alias(c) for c in keep]
    return df.groupBy(*group).agg(packed).select(*cols)


def _argmax_array(
    entries: Column, score, tie: Column | str = "cid"
) -> Column:
    """Per-ROW argmax over an array of candidate structs: returns the
    struct ``max(struct(score, -tie, entry))`` would pick, computed by
    ``array_max`` over ``transform(entries, ...)`` — no fan-out rows,
    no exchange (opt r12, guide §2.4: the carried-array twin of
    ``_argmax_row``; a Lloyd assignment pass with this shape shuffles
    NOTHING, where the fan-out + groupBy(id) form shuffles one
    payload-bearing row per vector per iteration).

    Order-exactness: ``array_max`` compares structs with the same
    interpreted total order (NULL < -Inf < finite < +Inf < NaN,
    field-by-field) that the ``max`` aggregate and a DESC-ordered
    row_number use, so NULL/NaN scores and tie-breaks select the
    identical entry (pinned by the degenerate-case test next to
    ``_argmax_row``'s).

    ``entries`` is an array<struct<...>>; ``score`` is a callable
    entry -> Column; ``tie`` names the entry field whose ASCENDING
    order breaks score ties (non-negative, so negation cannot
    overflow). Returns a struct with fields ``_s`` (the score) and
    ``_e`` (the winning entry); NULL for an empty/NULL array.
    """
    return F.array_max(
        F.transform(
            entries,
            lambda e: F.struct(
                score(e).alias("_s"),
                (-e[tie]).alias("_nt"),
                e.alias("_e"),
            ),
        )
    )


def rhp_coef(h: int, d: int) -> int:
    """Deterministic hyperplane coefficient, identical in any engine:
    coef(h, d) = (((h+1) * (d+7) * 2654435761) % 2039) - 1019.

    The multiplicative index mix matters: a LINEAR form like
    (h*31 + d*17) % 7 makes every plane a cyclic shift of one base
    pattern modulo a tiny modulus — only 7 effective hyperplanes exist,
    buckets plateau, and candidate counts revert to quadratic growth
    past ~20k vectors (measured in scripts/stress_ann.py). Knuth's
    multiplier over a 2039 prime gives planes that stay effectively
    independent out to the ~50 plane indexes auto_planes can request.
    """
    return ((h + 1) * (d + 7) * 2654435761) % 2039 - 1019


def rhp_signature(vec: Column, dim: int, planes: int = 8, offset: int = 0) -> Column:
    """Random-hyperplane sign signature as a bit string; coefficients
    from ``rhp_coef`` (fixed, engine-portable). ``offset`` shifts the
    global plane index so multiple hash tables draw disjoint
    hyperplane sets."""
    # HOF fold, NOT unrolled: signatures appear in several plan branches
    # (sizes agg + both self-join sides), and an unrolled planes*dim-node
    # tree duplicated across branches blows up Catalyst planning time —
    # measured 2x slower end-to-end than the compact fold despite cheaper
    # per-row eval (the signature pass is N rows, not N² pairs)
    bits = []
    for h in range(offset, offset + planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(rhp_coef(h, d)) for d in range(dim)]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def auto_planes(n: int, target_bucket: int = 64, floor: int = 4) -> int:
    """Planes needed so the expected bucket holds ~``target_bucket``
    vectors: 2^planes buckets ≈ n / target_bucket, i.e. planes grows with
    log2(N) — the knob that keeps within-bucket self-joins from
    degenerating toward N²/2^planes as the corpus scales."""
    import math

    return max(floor, math.ceil(math.log2(max(n, 2) / target_bucket)))


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int = 8, rank_limit: int = 1,
) -> DataFrame:
    """-> (id, v, cell, cell_rank): each vector's ``rank_limit`` nearest
    centroids (rank 1 = the cell it lives in; ranks 2.. = probe cells).

    Centroids are the ``n_cells`` vectors with the smallest ids — a
    deterministic seed choice so both engines (and reruns) agree;
    production replaces this with k-means iterations (same assignment
    join, run to convergence). Assignment = argmax cosine, ties broken
    by centroid id. The centroid table is tiny and broadcast, so
    assignment is a single narrow pass over the corpus — no shuffle.

    Deliberately NOT dim-unrolled: the assignment expressions land in
    localCheckpointed / multi-branch consumer plans (ivf_topk, ivf_pq)
    where an unrolled tree multiplies Catalyst optimization cost (see
    ``dot``); the fold is the measured-faster total here.
    """
    # centroid norms computed once broadcast-side, vector norms once per
    # row — one fold per (vector, centroid) pair instead of three;
    # bit-identical to cosine() (same fold + sqrt, same IEEE op order)
    cents = (
        df.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("ncv"),
        )
        .orderBy("cid")
        .limit(n_cells)
    )
    scored = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nv"),
    ).join(F.broadcast(cents)).select(
        "id",
        "v",
        "nv",
        "cid",
        # try_divide: a zero-norm vector or centroid yields a NULL
        # cosine instead of an ANSI divide-by-zero error; DESC ordering
        # puts those nulls LAST, and the map-side probe twins
        # (literal_centroid_probe / centroid_probe_column) coalesce
        # their negated cosine to +inf so all three assignment paths
        # rank degenerate vectors identically
        F.round(
            F.try_divide(
                dot(F.col("v"), F.col("cv")), F.col("nv") * F.col("ncv")
            ),
            6,
        ).alias("ccos"),
    )
    if rank_limit == 1:
        # argmax aggregate instead of Exchange+Sort+Window (opt r12):
        # identical row selection per _argmax_row's order-exactness note
        return _argmax_row(
            scored, group=["id"], score="ccos", tie="cid", keep=["v", "nv"]
        ).select(
            "id",
            "v",
            "nv",
            F.col("cid").alias("cell"),
            F.lit(1).cast("int").alias("cell_rank"),
        )
    w = Window.partitionBy("id").orderBy(F.col("ccos").desc(), F.col("cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rank_limit)
        .select(
            "id",
            "v",
            "nv",
            F.col("cid").alias("cell"),
            F.col("_rn").alias("cell_rank"),
        )
    )


def ivf_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5, n_cells: int = 8,
    nprobe: int = 1, dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k with multi-probe: every
    vector is indexed in its nearest cell; each QUERY additionally probes
    its ``nprobe`` nearest cells, catching neighbors that fell just
    across a Voronoi boundary (the standard IVF recall lever).

    Output shape matches cosine_topk. Cost: assignment is linear
    (broadcast centroids); the candidate join shuffles on the cell key
    and each cell's block is |cell| x |probing queries| — with C cells of
    ~n/C vectors, total work is ~nprobe * n^2/C instead of n^2, and
    cells partition cleanly across executors.
    """
    assigned = ivf_assign(df, id_col, vec_col, n_cells, rank_limit=nprobe).localCheckpoint(
        eager=False
    )  # both join sides below; assignment is C folds/row
    db = assigned.filter(F.col("cell_rank") == 1)
    probes = assigned  # ranks 1..nprobe
    # a neighbor lives in exactly one cell and probe cells are distinct
    # per query, so each (id, neighbor) pair arises at most once — no dedup
    pairs = (
        probes.alias("x")
        .join(db.alias("y"), on="cell")
        .filter(F.col("x.id") != F.col("y.id"))
        .select(
            F.col("x.id").alias("id"),
            F.col("y.id").alias("neighbor"),
            # norms precomputed once per vector in ivf_assign — one fold
            # per candidate pair instead of three (bit-identical to
            # cosine(): same fold + sqrt, same IEEE op order)
            F.round(
                dot(F.col("x.v"), F.col("y.v"), dim) / (F.col("x.nv") * F.col("y.nv")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("neighbor"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("id", "neighbor", "cos")
    )


def rhp_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    planes: int | None = None,
    tables: int = 2,
    target_bucket: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k within random-hyperplane buckets — the 100 TB
    ANN path. Three scale levers (all deterministic, oracle-mirrorable):

    - ``planes=None`` sizes the signature to the corpus:
      planes ≈ log2(N / target_bucket), so bucket count GROWS with N and
      the within-bucket self-join stays ~N * target_bucket, not
      N²/2^planes (one count() scan to learn N; pass ``planes`` to skip).
    - ``tables`` independent hash tables (disjoint hyperplane sets,
      bucket keys prefixed by table id) recover the recall that more
      planes cost: a near-pair split by one table's cut collides in
      another. Candidate pairs are deduped before scoring.
    - ``bucket_cap`` bounds the worst bucket (skew guard): buckets
      larger than the cap are salted into ceil(size/cap) sub-buckets by
      ``id % n_sub``, capping any single join block at ~cap² instead of
      letting one hot bucket (near-duplicate floods, zero vectors) run
      quadratic. The size lookup joins on the same bucket key as the
      self-join — no extra shuffle stage. Requires a numeric id column
      (pre-hash string ids to long, e.g. xxhash64).

    Output shape matches cosine_topk; vectors in sparse buckets may get
    fewer than k neighbors (the recall/cost trade).
    """
    if planes is None:
        planes = auto_planes(df.count(), target_bucket)
    # norm computed once per vector here (one fold), so the within-bucket
    # pair scoring below is one dot fold per pair instead of three —
    # bit-identical to cosine() (same fold + sqrt, same IEEE op order)
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nv"),
    )
    per_table = [
        F.concat(
            F.lit(f"{t}:"),
            rhp_signature(F.col("v"), dim, planes, offset=t * planes),
        )
        for t in range(tables)
    ]
    # NOT checkpointed: the self-join's two sides canonicalize to the same
    # subplan, so the bucket Exchange is computed once and reused (AQE
    # ReuseExchange); a localCheckpoint here would materialize the exploded
    # corpus (tables x N rows WITH vectors) in the block manager — measured
    # 1.6x slower cold at sf0.1 and a memory hazard at 100 TB.
    sig = vecs.select(
        "id", "v", "nv", F.explode(F.array(*per_table)).alias("bucket")
    )

    if bucket_cap is not None:
        sizes = sig.groupBy("bucket").agg(F.count("*").alias("_bc"))
        n_sub = F.ceil(F.col("_bc") / F.lit(float(bucket_cap))).cast("long")
        sig = (
            sig.join(sizes, on="bucket")
            .select(
                "id",
                "v",
                "nv",
                F.concat(
                    F.col("bucket"),
                    F.lit(":"),
                    F.pmod(F.col("id").cast("long"), n_sub).cast("string"),
                ).alias("bucket"),
            )
        )

    pairs = (
        sig.alias("x")
        .join(sig.alias("y"), on="bucket")
        .filter(F.col("x.id") != F.col("y.id"))
        # score BEFORE deduping collisions: the dot fold is map-side, so
        # duplicate pairs re-score cheaply, while deduping first would
        # shuffle both full vectors per candidate pair (2*dim doubles vs
        # one scalar). A pair colliding in several tables still lands as
        # one row — identical cos — after the dropDuplicates below.
        .select(
            F.col("x.id").alias("id"), F.col("y.id").alias("neighbor"),
            F.round(
                dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nv") * F.col("y.nv")),
                6,
            ).alias("cos"),
        )
        .dropDuplicates(["id", "neighbor"])
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("neighbor"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("id", "neighbor", "cos")
    )


def ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    method: str = "auto",
    **kwargs,
) -> DataFrame:
    """THE default ANN entry point — routes to a scale-safe strategy.

    - 'auto' / 'lsh': random-hyperplane LSH with auto-scaled bucket
      count, multiple hash tables, and an optional bucket cap — linear
      candidate generation at any corpus size.
    - 'ivf': inverted-file with multi-probe — cell-partitioned search.
    - 'exact': brute-force all-pairs. TEST/ORACLE TIER ONLY — refuses to
      run without ``allow_quadratic=True`` so nobody cartesian-joins a
      100 TB corpus by accident.
    """
    if method in ("auto", "lsh"):
        return rhp_lsh_topk(df, id_col, vec_col, dim, k, **kwargs)
    if method == "ivf":
        return ivf_topk(df, id_col, vec_col, k, **kwargs)
    if method == "exact":
        if not kwargs.pop("allow_quadratic", False):
            raise ValueError(
                "method='exact' is O(n^2) — the verification tier, not a "
                "scale path; pass allow_quadratic=True to run it anyway"
            )
        return cosine_topk(df, id_col, vec_col, k)
    raise ValueError(f"unknown ANN method {method!r}")


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str, eps: float = 1e-12
) -> DataFrame:
    """-> (id, scale, q array<int>): symmetric per-vector int8
    quantization — scale = max|x| / 127, q_i = round(x_i / scale),
    so x_i ≈ q_i * scale. The embedding-compression step of a
    training-data pipeline (4x smaller than float32 on the wire and in
    shuffle files); pure Column expressions, no Python in the path.

    Deterministic: the scale is an exact elementwise max, the rounding
    is the engine's half-up — both mirrored in the DuckDB oracle.
    Zero vectors quantize to all-zero q with scale 0.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (mx / F.lit(127.0)).alias("scale")
    q = F.transform(
        v,
        lambda x: F.when(mx > eps, F.round(x.cast("double") / (mx / 127.0)))
        .otherwise(F.lit(0.0))
        .cast("int"),
    ).alias("q")
    return df.select(F.col(id_col).alias("id"), scale, q)


def literal_centroid_probe(
    vec: Column, nv: Column, cents_rows, nprobe: int = 2
) -> Column:
    """array<struct<negc,cid>> of the ``nprobe`` nearest centroids, with
    the centroid table embedded as LITERALS — a pure per-row expression,
    so it is legal in an append-mode streaming projection where the
    window-based ``ivf_assign`` ranking is not (non-time windows are
    rejected on streaming frames).

    ``cents_rows``: collected Rows with fields (cid, cv, ncv) — IVF
    centroids are tiny by definition (the index ships them to every
    worker anyway), so folding them into the plan is the same
    data movement as a broadcast, minus a join. Ordering matches
    ``ivf_assign`` exactly: rounded cosine DESC, cid ASC, encoded as an
    ascending struct sort on (-round(cos, 6), cid). The ``+ 0.0``
    normalizes IEEE -0.0 to +0.0 (x + 0.0 is exact for every other
    double) so a cosine that rounds to zero cannot order differently
    from the SQL twin, where -0.0 and 0.0 compare equal.

    ``nv`` must be the caller's hoisted ``norm(vec)`` (one fold per row,
    not per centroid); centroid norms arrive precomputed in
    ``cents_rows`` the same way.

    A zero-norm vector (or centroid) makes the cosine NULL (Spark's
    Divide returns null on zero divisor); a null struct field sorts
    FIRST ascending, while ``ivf_assign``'s ``orderBy(ccos DESC)`` puts
    nulls LAST — so degenerate vectors would silently diverge between
    the two assignment paths. Coalescing negc to +inf pins null cosines
    to rank-last on this path too."""
    entries = [
        F.struct(
            F.coalesce(
                -F.round(
                    F.try_divide(
                        dot(vec, F.lit(r.cv)), nv * F.lit(float(r.ncv))
                    ),
                    6,
                ) + F.lit(0.0),
                F.lit(float("inf")),
            ).alias("negc"),
            F.lit(r.cid).alias("cid"),
        )
        for r in cents_rows
    ]
    return F.slice(F.array_sort(F.array(*entries)), 1, nprobe)


def centroid_probe_column(cents_arr: Column, vec: Column, nv: Column,
                          nprobe: int = 2) -> Column:
    """Per-row top-``nprobe`` centroid ranking over a centroid table
    carried as ONE array column — the large-``n_cells`` twin of
    ``literal_centroid_probe``.

    The literal variant embeds dim x n_cells literals in the plan, which
    is right for a handful of seed centroids but makes Catalyst analysis
    cost grow with the centroid count; here the centroid table is DATA
    (an array<struct<cid,cv,ncv>> produced by ``centroid_array``,
    broadcast as a 1-row frame), so the plan is one ``transform`` +
    ``array_sort`` regardless of whether n_cells is 8 or 25,000 (the
    SemDeDup-scale regime). Identical IEEE op order and (-round(cos,6),
    cid) ordering as the literal path — equivalence is unit-tested.
    Null cosines (zero-norm vector/centroid) coalesce to +inf so they
    rank LAST, matching ``ivf_assign``'s DESC nulls-last ordering."""
    return F.slice(
        F.array_sort(
            F.transform(
                cents_arr,
                lambda c: F.struct(
                    F.coalesce(
                        -F.round(
                            F.try_divide(dot(vec, c["cv"]), nv * c["ncv"]), 6
                        )
                        + F.lit(0.0),
                        F.lit(float("inf")),
                    ).alias("negc"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        nprobe,
    )


def centroid_array(cents: DataFrame) -> DataFrame:
    """(cid, cv, ncv) rows -> ONE-row frame holding the whole centroid
    table as an array column, for broadcasting into a (possibly
    streaming) per-row probe — stream-static joins against a broadcast
    1-row frame are append-legal. Array order is pinned by cid for
    determinism, though ``centroid_probe_column`` re-ranks anyway."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv", "ncv"))).alias("_cents")
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    iterations: int = 5,
) -> DataFrame:
    """-> (cid, cv): spherical k-means centroids via Lloyd's iterations —
    the production IVF trainer the seed-centroid shortcut stands in for.

    Deterministic: init = the ``n_cells`` lowest-id vectors; assignment =
    argmax rounded cosine with centroid-id tie-break; update = per-cell
    elementwise mean, L2-normalized (spherical k-means — cosine geometry);
    a fixed iteration count. Each iteration is one carried-array
    assignment pass (exchange-FREE: the centroids broadcast as one
    array row and every vector picks its cell per row, so no
    payload-bearing corpus shuffle per iteration) + one (cell, dim)
    aggregation whose shuffle is n_cells x dim, independent of corpus
    size. Empty cells keep their previous centroid.
    """
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = (
        vecs.orderBy("id")
        .limit(n_cells)
        .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    )
    for _ in range(iterations):
        # per-row argmax over the broadcast centroid array instead of a
        # fan-out join + groupBy(id) aggregate (opt r12): identical row
        # selection per _argmax_array's note, and the per-iteration
        # exchange of one (id, ccos, cid, v) row per vector disappears
        carr = cents.agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias(
                "_cents"
            )
        )
        assigned = (
            vecs.join(F.broadcast(carr))
            .select(
                "id",
                "v",
                _argmax_array(
                    F.col("_cents"),
                    lambda e: F.round(cosine(F.col("v"), e["cv"]), 6),
                ).alias("_am"),
            )
            .select("id", "v", F.col("_am._e.cid").alias("cid"))
        )
        # per-cell elementwise mean via posexplode -> (cid, pos) agg.
        # Components are scaled to exact integers (round(x*1e9), well
        # under 2^53) so the sum is order-independent AND every engine
        # computes the identical value — a DECIMAL sum is also exact,
        # but engines disagree by 1 ulp when casting wide decimals back
        # to double, which flips rounded cosines near .5e-6 boundaries
        # (seen at sf0.001). Integer->double is exact; the two IEEE
        # divisions that follow are correctly rounded everywhere.
        # empty-cell handling rides INSIDE the aggregation (opt r12): a
        # zero-weight sentinel row per (cid, pos) from the previous
        # centroids joins the member rows before the rollup, so the
        # "empty cells keep their previous centroid" coalesce-join (a
        # broadcast join + its build job per iteration) disappears.
        # Exactness: members contribute round(x*1e9) longs with w=1,
        # the sentinel contributes 0 with w=0 — the long sum and the
        # member count are bit-identical to the old members-only
        # aggregation; an empty cell (sum(w)=0) takes the sentinel
        # component back unchanged and SKIPS the renormalization
        # (its previous cv is already unit-norm but not exactly 1.0
        # under refolding, so renormalizing would perturb 1 ulp).
        exploded = assigned.select(
            "cid", F.posexplode("v").alias("pos", "x"), F.lit(1).alias("w")
        ).unionByName(
            cents.select(
                "cid", F.posexplode("cv").alias("pos", "x"), F.lit(0).alias("w")
            )
        )
        sums = exploded.groupBy("cid", "pos").agg(
            # CASE guards the empty-cell division (sum(w)=0): the NULL
            # m is never read (_mem=0 routes to cv_prev below) and the
            # populated-cell arithmetic is untouched
            F.when(
                F.sum("w") > 0,
                F.sum(
                    F.round(F.col("x").cast("double") * F.lit(1e9)).cast(
                        "long"
                    )
                    * F.col("w")
                ).cast("double")
                / F.sum("w")
                / F.lit(1e9),
            ).alias("m"),
            F.max(
                F.when(F.col("w") == 0, F.col("x").cast("double"))
            ).alias("prev"),
            F.sum("w").alias("members"),
        )
        cents = (
            sums.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m", "prev"))
                ).alias("pm"),
                F.max("members").alias("_mem"),
            )
            .select(
                "cid",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias(
                    "cv_raw"
                ),
                F.transform(F.col("pm"), lambda s: s.getField("prev")).alias(
                    "cv_prev"
                ),
                "_mem",
            )
            .withColumn("_n", norm(F.col("cv_raw")))
            .select(
                "cid",
                F.when(
                    F.col("_mem") > 0,
                    F.transform(
                        F.col("cv_raw"),
                        lambda x: (x / F.col("_n")).cast("float"),
                    ),
                )
                .otherwise(
                    F.transform(
                        F.col("cv_prev"), lambda x: x.cast("float")
                    )
                )
                .alias("cv"),
            )
            .localCheckpoint(eager=False)
        )
    return cents


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells: int = 4,
    iterations: int = 1,
) -> DataFrame:
    """Product quantization (spherical) -> (id, sub, code, scos): split
    each vector into ``n_sub`` subspaces, train a per-subspace codebook
    with the deterministic k-means trainer, assign each subvector to its
    nearest centroid (rounded cosine, cid tie-break).

    The ANN compression path beyond int8: storage per vector drops to
    n_sub code bytes (+ shared codebooks), and asymmetric distance
    computation scans codes instead of floats. Scale shape: per
    subspace, training shuffles n_cells x sub_dim aggregates (corpus-
    size independent) and assignment is one broadcast join — the whole
    encode is n_sub narrow passes over the corpus. Codebooks are
    engine-exact (integer-scaled means), so codes — and any index built
    from them — are reproducible off-Spark.
    """
    sub_dim = dim // n_sub
    assert sub_dim * n_sub == dim, "dim must divide evenly into n_sub"
    outs = []
    for s in range(n_sub):
        sliced = df.select(
            F.col(id_col).alias("id"),
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias("v"),
        )
        cents = kmeans_centroids(
            sliced, "id", "v", n_cells=n_cells, iterations=iterations
        )
        # argmax aggregate instead of Exchange+Sort+Window (opt r12)
        outs.append(
            _argmax_row(
                sliced.join(F.broadcast(cents)).select(
                    "id",
                    "cid",
                    F.round(cosine(F.col("v"), F.col("cv")), 6).alias("scos"),
                ),
                group=["id"], score="scos", tie="cid", keep=[],
            ).select(
                "id",
                F.lit(s).cast("int").alias("sub"),
                F.col("cid").alias("code"),
                "scos",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def pq_encode_with(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    codebooks: DataFrame,
    n_sub: int,
) -> DataFrame:
    """Assign every vector's subvectors against ALREADY-TRAINED
    codebooks -> (id, sub, code): the encode half of :func:`pq_encode`
    without retraining. All subspaces ride in ONE frame (posexplode of
    the sliced subvectors) through one broadcast join on ``sub`` and one
    (sub, id) window — identical rounded-cosine / cid tie-break
    semantics as pq_encode's per-subspace loop, in a single corpus pass
    instead of n_sub sequential branches."""
    sub_dim = dim // n_sub
    sliced = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                            "v"
                        ),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("_sl"),
    ).select("id", F.col("_sl.sub").alias("sub"), F.col("_sl.v").alias("v"))
    # argmax aggregate instead of Exchange+Sort+Window (opt r12)
    return _argmax_row(
        sliced.join(F.broadcast(codebooks.select("sub", "cid", "cv")), on="sub")
        .select(
            "id",
            "sub",
            "cid",
            F.round(cosine(F.col("v"), F.col("cv")), 6).alias("scos"),
        ),
        group=["sub", "id"], score="scos", tie="cid", keep=[],
    ).select("id", "sub", F.col("cid").alias("code"))


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells: int = 4,
    iterations: int = 1,
) -> DataFrame:
    """Per-subspace PQ codebooks -> (sub, cid, cv, cv_norm2): the trained
    codeword table :func:`pq_encode` assigns against, exposed for
    asymmetric-distance search (``cv_norm2`` pre-computed because ADC
    needs the reconstruction's norm, Σ_s ||c_s||², at scoring time).

    All subspaces train in ONE keyed Lloyd's loop (every per-subspace
    quantity carries ``sub`` in its key), not n_sub sequential
    :func:`kmeans_centroids` calls: the math per subspace is untouched
    (independent keys), but the iteration count of cluster round-trips
    drops n_sub-fold — the sequential form paid one
    broadcast+window+agg+join chain per subspace per iteration
    (measured ~6.5 s -> ~2 s for the sf0.1 codebook build).
    """
    sub_dim = dim // n_sub
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                            "v"
                        ),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("_sl"),
    ).select("id", F.col("_sl.sub").alias("sub"), F.col("_sl.v").alias("v"))
    # init = the n_cells lowest-id subvectors PER SUBSPACE (identical to
    # kmeans_centroids' orderBy(id).limit(n_cells) within each sub)
    w_init = Window.partitionBy("sub").orderBy("id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w_init))
        .filter(F.col("_rn") <= n_cells)
        .select("sub", F.col("id").alias("cid"), F.col("v").alias("cv"))
    )
    for _ in range(iterations):
        # argmax aggregate instead of Exchange+Sort+Window per iteration
        # (opt r12): identical row selection per _argmax_row's note
        assigned = _argmax_row(
            vecs.join(F.broadcast(cents), on="sub").select(
                "sub", "id", "v", "cid",
                F.round(cosine(F.col("v"), F.col("cv")), 6).alias("ccos"),
            ),
            group=["sub", "id"], score="ccos", tie="cid", keep=["v"],
        )
        # exact integer-scaled per-cell elementwise means — identical
        # arithmetic to kmeans_centroids, keyed by (sub, cid, pos)
        sums = (
            assigned.select("sub", "cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("sub", "cid", "pos")
            .agg(
                (
                    F.sum(
                        F.round(F.col("x").cast("double") * F.lit(1e9)).cast(
                            "long"
                        )
                    ).cast("double")
                    / F.count("*")
                    / F.lit(1e9)
                ).alias("m")
            )
        )
        new_cents = (
            sums.groupBy("sub", "cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select(
                "sub",
                "cid",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias(
                    "cv_raw"
                ),
            )
            .withColumn("_n", norm(F.col("cv_raw")))
            .select(
                "sub",
                "cid",
                F.transform(
                    F.col("cv_raw"), lambda x: (x / F.col("_n")).cast("float")
                ).alias("cv"),
            )
        )
        cents = (
            cents.alias("old")
            .join(new_cents.alias("new"), on=["sub", "cid"], how="left")
            .select(
                "sub",
                "cid",
                F.coalesce(F.col("new.cv"), F.col("old.cv")).alias("cv"),
            )
            .localCheckpoint(eager=False)
        )
    return cents.withColumn("cv_norm2", dot(F.col("cv"), F.col("cv")))


def pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells_coarse: int = 4,
    n_cells_code: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(xcodes, assign, codebooks): the maintained IVF-PQ serving index —
    coarse cell assignments plus PQ codes pivoted to ONE row per vector
    as (xid, cell, _xp codeword positions, _xn2 scaled reconstruction
    norm) — the LUT ADC candidate payload (extracted from
    ``ivf_pq_topk`` in r11 so the streaming serving monitor maintains
    the SAME structure the batch query scans; repacked r12 from inline
    codeword VECTORS to positions: the vector-carrying form made the
    "ADC" per-candidate cost equal a raw cosine and erased the
    candidate-byte shrink — measured 12x slower than raw at 10M
    candidates, artifacts/stress_centroid_probe_r12.json).

    Build shape: single-row-group local parquet runs every per-subspace
    kmeans round single-task — the source is fanned out once so all
    training rounds, the encode and the assignment scan run with full
    parallelism; assignment/codebooks/codes are each materialized once
    (id-sized metadata frames) because the chain re-derives kmeans per
    reference without a barrier. A caller that maintains ONE index per
    (session, dataset) holds the three frames through ``session.memo``
    and ``session.pin``, which protects them from the between-query
    sweep."""
    from prosnet_prefect_pipelines_spark.session import fan_out

    df = fan_out(df)
    assign = ivf_assign(
        df, id_col, vec_col, n_cells=n_cells_coarse, rank_limit=1
    ).localCheckpoint(eager=True)
    cbs = pq_codebooks(
        df, id_col, vec_col, dim, n_sub, n_cells_code
    ).localCheckpoint(eager=True)
    # encode against the codebooks ALREADY trained above — pq_encode
    # would retrain them from scratch (the trainer ran twice here before
    # r10: measured 24 s warm -> ~8 s with train-once + one-pass encode)
    codes = (
        pq_encode_with(df, id_col, vec_col, dim, cbs, n_sub)
        .select(F.col("id").alias("xid"), "sub", "code")
        .localCheckpoint(eager=True)
    )
    xcodes = pq_codes_positional(codes, cbs).join(
        assign.select(F.col("id").alias("xid"), F.col("cell")), on="xid"
    )
    return xcodes, assign, cbs


def pq_query_slices(vec: Column, dim: int, n_sub: int) -> Column:
    """The query-side subvector array ``_qs`` that ``adc_cos_column``
    scores against an index row's ``_xs``."""
    sub_dim = dim // n_sub
    return F.array(
        *[F.slice(vec, s * sub_dim + 1, sub_dim) for s in range(n_sub)]
    )


def adc_cos_column(n_sub: int) -> Column:
    """ADC cosine between a query row's ``_qs``/``qn`` and an index
    row's ``_xs``: per-subspace terms scaled to exact integers before
    the SUM — n_sub doubles summed in nondeterministic order can differ
    in the last ulp between engines and flip the rounded score; integer
    sums cannot (the kmeans trainer's trick, applied to ADC)."""
    adc_dot_s = sum(
        F.round(
            dot(F.col("_qs").getItem(s), F.col("_xs").getItem(s)["cv"]) * 1e9
        ).cast("long")
        for s in range(n_sub)
    )
    xnorm2_s = sum(F.col("_xs").getItem(s)["n2"] for s in range(n_sub))
    return F.round(
        (adc_dot_s / F.lit(1e9)) / (F.col("qn") * F.sqrt(xnorm2_s / F.lit(1e9))),
        6,
    )


# --- LUT ADC (r12) ----------------------------------------------------------
#
# adc_cos_column above recomputes every per-subspace dot PER CANDIDATE
# PAIR against codeword VECTORS carried inline — per-candidate work
# equal to a raw dim-length cosine plus struct overhead, and no
# candidate-byte shrink at all (measured r12,
# artifacts/stress_centroid_probe_r12.json: 10M candidates scored in
# ~40 s "ADC" vs ~3.3 s raw cosine). True ADC hoists those dots to a
# per-QUERY lookup table — |codebook| entries computed once per query —
# and candidates carry only their codeword POSITIONS (n_sub ints) plus
# one precomputed reconstruction-norm long, so per-candidate work drops
# from O(dim) multiplies to n_sub integer array reads and the join
# payload shrinks to the codes the PQ literature promises. Every scaled
# integer is the SAME expression adc_cos_column computes, so scores are
# bit-identical (tests/test_streaming_ivfpq.py pins it).


def pq_codebook_array(cbs: DataFrame) -> DataFrame:
    """-> one-row (_cbarr): the codebook entries sorted by (sub, cid).
    An entry's POSITION in this array is the code position
    :func:`pq_codes_positional` stores and :func:`pq_query_lut` indexes
    — the shared ordering that makes the LUT lookup line up."""
    return cbs.select(
        F.struct(F.col("sub"), F.col("cid"), F.col("cv")).alias("_e")
    ).agg(F.array_sort(F.collect_list("_e")).alias("_cbarr"))


def pq_query_lut(vec: Column, cbarr: Column, dim: int, n_sub: int) -> Column:
    """Per-query flat ADC lookup table ``_qlut``: entry j =
    round(dot(q_{sub_j}, cv_j) * 1e9) as long for the j-th codebook
    entry in (sub, cid) order — the identical integer-scaled
    per-subspace term ``adc_cos_column`` computes per candidate,
    hoisted to once per (query, codeword)."""
    sub_dim = dim // n_sub
    return F.transform(
        cbarr,
        lambda e: F.round(
            dot(F.slice(vec, e["sub"] * sub_dim + 1, sub_dim), e["cv"]) * 1e9
        ).cast("long"),
    )


def pq_codes_positional(codes: DataFrame, cbs: DataFrame) -> DataFrame:
    """-> (xid, _xp array<int>, _xn2 long): per vector, the positions of
    its per-subspace codewords in the (sub, cid)-sorted codebook array
    (sub order), plus the precomputed scaled reconstruction norm
    Σ_s round(||c_s||² * 1e9) — the LUT path's candidate payload:
    n_sub ints + one long instead of inline codeword vectors. The
    position window runs over the |codebook| rows (n_sub x n_codes,
    config-sized)."""
    n2 = cbs.select(
        "sub",
        F.col("cid").alias("code"),
        F.round(F.col("cv_norm2") * 1e9).cast("long").alias("_n2"),
    )
    # global (sub, code)-order position WITHOUT a global window: rank
    # within sub (parallel, keyed) + per-sub offsets from a bounded
    # 'sub'-keyed aggregate (the distrank offsets shape) — the sort is
    # sub-major, so offset(sub) + within-sub rank IS the flat position
    # the (sub, cid)-sorted codebook array assigns
    pos_in_sub = n2.withColumn(
        "_ps",
        F.row_number().over(Window.partitionBy("sub").orderBy("code")) - 1,
    )
    woff = Window.orderBy("sub").rowsBetween(Window.unboundedPreceding, -1)
    offs = n2.groupBy("sub").agg(F.count(F.lit(1)).alias("_c")).select(
        "sub", F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off")
    )
    pos = pos_in_sub.join(F.broadcast(offs), on="sub").withColumn(
        "_pos", (F.col("_off") + F.col("_ps")).cast("int")
    )
    return (
        codes.join(F.broadcast(pos), on=["sub", "code"])
        .groupBy("xid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub"), F.col("_pos")))
                ),
                lambda e: e["_pos"],
            ).alias("_xp"),
            F.sum("_n2").alias("_xn2"),
        )
    )


def pq_structs_array(codes: DataFrame, cbs: DataFrame) -> DataFrame:
    """-> (xid, _xs): the pre-r12 vector-carrying candidate form
    (sub-ordered structs of scaled norm + codeword VECTOR), kept as the
    REFERENCE twin for :func:`adc_cos_column` — the LUT path's
    bit-identity is pinned against it
    (tests/test_streaming_ivfpq.py). Not a production path: carrying
    codeword vectors per candidate erases PQ's byte shrink and costs a
    full dim-length dot per pair."""
    return (
        codes.join(
            F.broadcast(
                cbs.select("sub", F.col("cid").alias("code"), "cv", "cv_norm2")
            ),
            on=["sub", "code"],
        )
        .groupBy("xid")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "sub",
                        F.round(F.col("cv_norm2") * 1e9).cast("long").alias("n2"),
                        F.col("cv").alias("cv"),
                    )
                )
            ).alias("_xs")
        )
    )


def adc_cos_lut(n_sub: int) -> Column:
    """LUT ADC cosine between a query row's ``_qlut``/``qn`` and an
    index row's ``_xp``/``_xn2`` — bit-identical to
    :func:`adc_cos_column` (same scaled-integer dots, summed in the
    same subspace order; same precomputed norm longs; same final
    rounded division) with per-candidate work reduced to n_sub array
    reads."""
    adc_dot_s = sum(
        F.element_at(
            F.col("_qlut"), F.element_at(F.col("_xp"), s + 1) + 1
        )
        for s in range(n_sub)
    )
    return F.round(
        (adc_dot_s / F.lit(1e9))
        / (F.col("qn") * F.sqrt(F.col("_xn2") / F.lit(1e9))),
        6,
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 4,
    n_cells_coarse: int = 4,
    n_cells_code: int = 4,
    k: int = 3,
    nprobe: int = 1,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ asymmetric-distance top-k — the composed quantized-search
    scale path: coarse cells bound the candidate set (IVF), PQ codes
    stand in for the vectors (n_sub bytes each), and scoring is ADC:
    cos(q, x̂) with x̂ = concatenated codewords, so dot(q, x̂) =
    Σ_s dot(q_s, c_{s,code}) and ||x̂||² = Σ_s ||c_s||² — no candidate
    vector is ever read again after encoding.

    Expressed relationally ((q, x, sub) rows through keyed joins) so the
    DuckDB oracle can replay it exactly; a production kernel batches the
    per-subspace lookup tables per query (mapInPandas) with identical
    semantics. Simplifications vs a production index, documented:
    nprobe=1, codebooks trained on raw subvectors (not residuals),
    spherical geometry throughout.
    """
    from prosnet_prefect_pipelines_spark.session import fan_out

    # a prebuilt (xcodes, assign, cbs) makes this a pure QUERY over a
    # maintained serving structure (the production shape); without one
    # the index is built per call
    xcodes, assign, cbs = index or pq_index(
        df, id_col, vec_col, dim, n_sub, n_cells_coarse, n_cells_code
    )
    # nprobe > 1: the query side re-assigns against the coarse
    # centroids keeping its nprobe nearest cells (the coverage dial the
    # recall gauges measure — the INDEX side always lives in its rank-1
    # home cell, so a candidate pair still appears exactly once)
    qside = (
        assign
        if nprobe == 1
        else ivf_assign(
            df, id_col, vec_col, n_cells=n_cells_coarse, rank_limit=nprobe
        ).select(F.col("id"), "v", "nv", "cell")
    )
    qarr = (
        fan_out(qside)
        .crossJoin(F.broadcast(pq_codebook_array(cbs)))
        .select(
            F.col("id").alias("qid"),
            "cell",
            norm(F.col("v")).alias("qn"),
            pq_query_lut(F.col("v"), F.col("_cbarr"), dim, n_sub).alias(
                "_qlut"
            ),
        )
    )
    # broadcast only while the encoded index fits comfortably on every
    # executor: |corpus| rows x (n_sub code positions + one norm long +
    # row overhead) — the r12 positional repack shrinks this ~30x vs
    # the codeword-vector form, so far larger indexes stay on the fast
    # broadcast plan. assign is an eager checkpoint, so the row count
    # is metadata-cheap. Above _PQ_BROADCAST_BYTES the pair stage
    # becomes a shuffled equi-join on cell — the 100 TB shape, where
    # neither side is driver-resident.
    n_x = assign.count()
    est_xcodes_bytes = n_x * (n_sub * 4 + 8 + 48)
    xside = (
        F.broadcast(xcodes)
        if est_xcodes_bytes <= _PQ_BROADCAST_BYTES
        else xcodes.repartition("cell")
    )
    scored = (
        qarr.join(xside, on="cell")
        .filter(F.col("qid") != F.col("xid"))
        .select("qid", "xid", adc_cos_lut(n_sub).alias("adc_cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_cos").desc(), F.col("xid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("qid", "xid", "adc_cos")
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """-> (query_id, neighbor, cos): exact cosine top-k over the corpus
    for each query vector — the batch KNN-join a retrieval/eval pipeline
    runs (embed a query set, fetch nearest corpus items).

    Scale shape (small query batch x 100 TB corpus): the query set is
    BROADCAST, so the corpus is never shuffled for pair generation — one
    narrow JVM pass scores corpus partitions in place. Top-k is
    two-phase: an Arrow-batched ``mapInPandas`` prune keeps k candidates
    per query per batch LOCALLY (a window partitioned by (query,
    partition-id) would itself exchange the full score matrix), so the
    only network shuffle carries <= k * n_batches rows per query instead
    of |corpus| x |queries|; a final per-query window merges partials.
    Both phases rank by (cos desc, neighbor) — a batch-local top-k is a
    superset of the global top-k under any batching, so the result is
    exact and deterministic. For large query sets, switch to
    ``ivf_topk``-style cell routing on both sides.
    """
    # norms hoisted out of the pair stage: one fold per QUERY (broadcast
    # side, |Q| rows) and one per CORPUS row instead of re-deriving both
    # inside every cosine — bit-identical (same fold + sqrt expressions,
    # same IEEE op order; only the evaluation site moves) and 3x less
    # per-pair arithmetic in the only quadratic stage. r3 benched this
    # query computing 3 unrolled dim-length chains per PAIR; that was
    # the knn_join_batch r2->r3 regression residual.
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("qv"),
        norm(F.col(query_vec), dim).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor"),
        F.col(corpus_vec).alias("cv"),
        norm(F.col(corpus_vec), dim).alias("cn"),
    )
    scored = c.join(F.broadcast(q)).select(
        "qid",
        "neighbor",
        F.round(
            dot(F.col("qv"), F.col("cv"), dim) / (F.col("qn") * F.col("cn")), 6
        ).alias("cos"),
    )

    def _prune(batches):
        for pdf in batches:
            pdf = pdf.sort_values(
                ["qid", "cos", "neighbor"], ascending=[True, False, True]
            )
            yield pdf.groupby("qid", sort=False).head(k)

    partial = scored.mapInPandas(_prune, scored.schema)
    final = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor"))
    return (
        partial.withColumn("_rn", F.row_number().over(final))
        .filter(F.col("_rn") <= k)
        .select(F.col("qid").alias("query_id"), "neighbor", "cos")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: float = 1e9,
) -> DataFrame:
    """(label, cv array<double>) — exact per-label mean vectors.

    Per-dimension components are summed as scaled BIGINTs (round(x*1e9))
    so the mean is independent of aggregation order and DuckDB twins
    hash-match; the centroid array is rebuilt in dimension order via an
    array_sort over (pos, m) structs.

    Scale shape: the component aggregation shuffles labels x dim rows
    (corpus-size independent — a few hundred rows however big the input
    is), and the resulting centroid table is tiny by construction, meant
    to be broadcast into whatever scoring join follows.
    """
    comp = (
        df.select(F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos0", "x"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            (
                F.sum(F.round(F.col("x").cast("double") * F.lit(scale)).cast("long")).cast("double")
                / F.count(F.lit(1))
                / F.lit(scale)
            ).alias("m")
        )
    )
    return (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select("label", F.expr("transform(_pm, s -> s.m)").alias("cv"))
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as an ordered fold (both engines fold
    dimension 1..n in order, so the double is bit-identical)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
