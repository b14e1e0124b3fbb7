"""Similarity search over embedding columns (``array<float>``).

- **brute-force top-k cosine** — the exactness baseline: query-set × corpus
  join with the small side broadcast; cosine as a codegen'd ``aggregate`` /
  ``zip_with`` expression (no Python).  At 100 TB the corpus side streams —
  cost is one scan per query batch.
- **LSH-bucketed ANN (random hyperplanes)** — the scale path: each vector is
  mapped to a sign-bit bucket over ``n_planes`` deterministic pseudo-random
  hyperplanes; neighbor candidates share a bucket (or a 1-bit-flipped probe
  bucket), turning top-k into a bucket-local join.  Hyperplane components are
  derived from the shared md5 hash family, so buckets are reproducible across
  runs and engines.
- **embedding-cosine near-dup** — pairs above a cosine threshold within LSH
  buckets (the embedding analogue of MinHash near-dup).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fold_dot(a, b) -> float:
    """Driver-side twin of :func:`_dot` — the identical IEEE-754 left fold
    ``((0.0 + a0·b0) + a1·b1) + ...`` in python floats (doubles), so a
    constant subexpression over two LITERAL vectors can be computed once at
    plan-build time and shipped as a literal that is bit-identical to what
    the Catalyst fold would produce per row.  Replacing a per-row
    ``_dot(lit, lit)`` (a 16-64 element interpreted fold, re-evaluated per
    array element when it sits inside a higher-order-function lambda) with
    a literal lookup is the single biggest constant-factor win in the PQ
    family (guide §1.2 step 2: per-task work)."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def _sql_double(x) -> str:
    """One double as a SQL literal token: ``repr(float)`` + ``D`` for finite
    values (shortest round-trip), an explicit ``double('NaN')`` /
    ``double('Infinity')`` / ``double('-Infinity')`` cast otherwise — the
    bare ``nan``/``inf`` tokens ``repr`` gives would parse as column names."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    if math.isnan(x):
        return "double('NaN')"
    return "double('Infinity')" if x > 0 else "double('-Infinity')"


def _lit_vec(xs) -> "F.Column":
    """``array<double>`` literal built by the SQL parser in ONE py4j call.
    ``F.lit(list)`` constructs the tree element-by-element over py4j —
    measured ~0.2-0.5 s of pure driver time per ~1k floats, paid at EVERY
    plan build (the bench times construction; guide §1 'measure first'
    caught it).  The parser form is ~100x cheaper and yields the same
    Literal: ``repr(float)`` is shortest-roundtrip and both Python and the
    JVM parse decimal strings correctly rounded, so values are
    bit-identical (non-finite values: see :func:`_sql_double`)."""
    if not xs:
        return F.lit([]).cast("array<double>")
    return F.expr("array(" + ",".join(_sql_double(x) for x in xs) + ")")


def _lit_mat(rows) -> "F.Column":
    """``array<array<double>>`` literal via the SQL parser — see
    :func:`_lit_vec`."""
    if not rows:
        return F.lit([]).cast("array<array<double>>")
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_sql_double(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


def _let(bindings: dict, body) -> "F.Column":
    """Evaluate each binding expression ONCE per row and hand the values to
    ``body`` as lambda variables (cheap struct-field reads).

    Spark higher-order functions re-evaluate every non-lambda-variable
    subtree of their function argument PER ARRAY ELEMENT — e.g.
    ``transform(cb, c -> (vv - 2*dot(vj, c)))`` pays the full ``vv`` and
    ``vj`` folds |cb| times per row.  Binding them through a one-element
    ``transform`` makes them lambda variables, evaluated once.  Unlike a
    staged projection this cannot be undone by CollapseProject (which
    inlines single-use aliases back into the consumer), and it needs no
    access to the enclosing DataFrame.  Values and null semantics are
    unchanged — the wrapper only changes HOW OFTEN subtrees evaluate."""
    keys = list(bindings)
    s = F.struct(*[bindings[k].alias(k) for k in keys])
    return F.element_at(
        F.transform(F.array(s), lambda t: body(**{k: t[k] for k in keys})), 1
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    """Zero-norm safe (NULL, never a divide): see :func:`_cosine`."""
    return _cosine(_dot(a, b), _norm(a), _norm(b))


def _cosine(dot, n1, n2):
    """Cosine from a dot product and two norms, zero-norm safe: a zero
    vector gets a NULL score (``try_divide`` — under ANSI mode plain
    division RAISES on a zero divisor) and ``_rank_topk`` drops NULL
    scores before ranking, so a zero vector can neither fail the job nor
    occupy a top-k slot of an under-filled candidate set.  ``try_divide``
    rather than a ``when`` guard: the operands here are often enormous
    staged expressions (the PQ ADC fold), and a ``when`` would duplicate
    them into the condition — measured as an analyzer heap blowup."""
    return F.try_divide(dot, n1 * n2)


def _rank_topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    """The ONE top-k epilogue shared by every ``*_topk`` operator: rank per
    query by (score DESC, neighbor_id ASC — the deterministic tie rule the
    DuckDB twins mirror), keep ``rank <= k``, NULL scores excluded.

    The null exclusion rides ABOVE the window (nulls ordered last, then
    filtered together with the rank bound): a pre-window ``isNotNull``
    filter would be pushed below the scored projection, inlining the score
    expression — for PQ, the entire staged ADC fold — into the predicate
    (measured: analyzer heap blowup; the same pushdown-inlining hazard as
    the LSH signature filter note)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") <= k) & F.col(score_col).isNotNull())
        .select("query_id", "rank", "neighbor_id", score_col)
    )


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is small (a handful of probe vectors) — broadcast it so the
    corpus scan never shuffles.  Scores are rounded to 4 decimals with an
    id tie-break, making ranks deterministic across engines."""
    qd = F.col(vec_col).cast("array<double>")
    # norms are per-vector: evaluate once per row, not once per scored pair
    # (HOF aggregates don't codegen; per-pair norms triple the join's cost).
    # dot/(qn*cn) is the same expression tree as `cosine` — bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        qd.alias("qv"),
        _norm(qd).alias("qn"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        qd.alias("cv"),
        _norm(qd).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k, "cos_sim")


def hyperplane_components(
    n_planes: int = 8, dim: int = 16, seed: str = "lsh"
) -> list[list[float]]:
    """Deterministic pseudo-random plane components in [-0.5, 0.5) from the
    shared md5 hash family: plane_p[i] = (hash64('<seed>|p_i') % 1000)/1000
    - 0.5, computed driver-side with hashlib (bit-identical to what Catalyst
    would constant-fold from the ``functions.text.hash64`` expression, and to
    the DuckDB oracle's literals — one generator, three engines)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{seed}|{p}_{i}".encode()).hexdigest()[:15], 16) % 1000)
            / 1000.0
            - 0.5
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_bucket(vec_col, n_planes: int = 8, dim: int = 16, seed: str = "lsh"):
    """Sign-bit LSH bucket id: bit p = 1 iff <v[:dim], plane_p> > 0.

    The vector is sliced to ``dim`` BEFORE the inner product — a bare
    ``zip_with(v, plane)`` pads the shorter side (the plane) with nulls, and
    one null product poisons the aggregate to NULL, which silently collapsed
    every longer-than-``dim`` vector into bucket 0.  After the slice both
    arrays have ``dim`` elements; a vector genuinely shorter than ``dim``
    yields a NULL projection and bit 0 on every plane (same as the SQL
    twin's out-of-bounds NULL).

    The plane table ships as ONE nested-array literal with the projections
    in a single ``transform`` lambda: unrolled per-plane sums (n_planes ×
    dim terms) overflow the JVM's 64KB codegen method limit when several
    tables land in one stage (OR-amplified near-dup), silently dropping the
    whole stage to interpreted mode."""
    v = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    vd = F.slice(v.cast("array<double>"), 1, dim)
    planes = _lit_mat(hyperplane_components(n_planes, dim, seed))
    # vd is let-bound: inside the per-plane lambda the slice+cast would
    # re-evaluate per plane (n_planes array allocations per row)
    bits = _let(
        {"xv": vd},
        lambda xv: F.transform(
            planes,
            # 2^i is exact in double for i < 53, so the cast is lossless
            lambda p, i: F.when(
                _dot(xv, p) > 0, F.pow(F.lit(2.0), i).cast("int")
            ).otherwise(F.lit(0)),
        ),
    )
    return F.aggregate(bits, F.lit(0), lambda a, b: a + b)


def ann_lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 16,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors in the query's bucket,
    then exact cosine rank within candidates.  Recall/speed traded via
    ``n_planes`` (more planes = smaller buckets) and ``probe_bits``
    (multi-probe LSH: each query additionally probes the buckets at
    Hamming distance 1 in its first ``probe_bits`` sign bits — the planes
    a borderline vector most plausibly flipped — lifting recall without
    touching the corpus side).  ``probe_bits=0`` is classic single-probe.

    At scale, corpus buckets are computed once (map-only) and
    bucketed-written, so each query reads ``1 + probe_bits`` buckets — the
    IVF pattern; the probe fan-out is on the (small) query side only, and a
    neighbor found via several probes dedups before ranking (identical
    cos_sim, so the rank is probe-order-independent)."""
    if not 0 <= probe_bits <= n_planes:
        raise ValueError(
            f"probe_bits must be in [0, n_planes={n_planes}], got {probe_bits}"
        )
    vd = F.col(vec_col).cast("array<double>")
    base_bucket = hyperplane_bucket(F.col(vec_col), n_planes, dim)
    probes = F.array(
        base_bucket, *[base_bucket.bitwiseXOR(F.lit(1 << i)) for i in range(probe_bits)]
    )
    bq = queries.select(
        F.col(id_col).alias("query_id"),
        vd.alias("qv"),
        _norm(vd).alias("qn"),
        F.explode(probes).alias("bucket"),
    )
    bc = df.select(
        F.col(id_col).alias("neighbor_id"),
        vd.alias("cv"),
        _norm(vd).alias("cn"),
        base_bucket.alias("bucket"),
    )
    scored = (
        bc.join(F.broadcast(bq), ["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    if probe_bits > 0:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, k, "cos_sim")


def ivf_assign(vec_col, centroids: list[list[float]]):
    """Cell id = argmin squared-L2 distance to the (broadcast-literal)
    centroid table — the IVF coarse quantizer as a pure expression.

    Distance uses the algebraic expansion ``(<v,v> - 2<v,c>) + <c,c>`` with
    each inner product as the same left-fold the cosine uses: bit-identical
    to the DuckDB oracle's ``list_dot_product`` form (a per-element
    ``(x-y)²`` fold would sum in a different order and ulp-flip argmin on
    near-equidistant centroids).  Ties pick the first (lowest) cell index —
    the oracle's ``row_number() ORDER BY dist, cell_idx`` twin.

    The centroid table ships as ONE nested-array literal and distances come
    from a single ``transform`` lambda: per-centroid expression trees (16
    cells × 64 dims of ``lit`` calls) cost seconds of driver plan-build time
    and blow up codegen; the HOF form is O(1) plan size in both n_cells and
    dim."""
    v = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    vd = v.cast("array<double>")
    cents = [[float(x) for x in c] for c in centroids]
    cent = _lit_mat(cents)
    # <c,c> is constant per centroid: computed ONCE at plan build with the
    # identical IEEE fold (`_fold_dot`), zipped in as a literal — the
    # summation (vv - 2<v,c>) + cc keeps the exact association order, so
    # distances (and argmin ties) are bit-identical to the inline form.
    ccl = _lit_vec([_fold_dot(c, c) for c in cents])
    # vd and vv are let-bound: inside the per-centroid lambda they would
    # re-evaluate per centroid (n_cells x a dim-length fold per row).
    return _let(
        {"xv": vd},
        lambda xv: _let(
            {"vv": _dot(xv, xv)},
            lambda vv: _let(
                {
                    "d": F.zip_with(
                        cent, ccl, lambda c, k: (vv - F.lit(2.0) * _dot(xv, c)) + k
                    )
                },
                lambda d: F.array_position(d, F.array_min(d)) - 1,
            ),
        ),
    ).cast("int")


def ivf_probe_cells(vec_col, centroids: list[list[float]], nprobe: int):
    """The ``nprobe`` nearest cells in true distance order (ties → lowest
    cell index), as an ``array<int>`` expression: sort a
    ``struct<dist,idx>`` array and slice.  Same algebraic distance as
    ``ivf_assign``, so probe #1 always equals the assignment cell —
    bit-identical to the oracle's ``row_number() ORDER BY dist, cell_idx``.
    Same single-literal ``transform`` form as ``ivf_assign`` (plan size
    independent of n_cells × dim)."""
    v = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    vd = v.cast("array<double>")
    cents = [[float(x) for x in c] for c in centroids]
    cent = _lit_mat(cents)
    ccl = _lit_vec([_fold_dot(c, c) for c in cents])  # see ivf_assign
    entries = _let(
        {"xv": vd},
        lambda xv: _let(
            {"vv": _dot(xv, xv)},
            lambda vv: F.transform(
                cent,
                lambda c, i: F.struct(
                    (
                        (vv - F.lit(2.0) * _dot(xv, c)) + F.element_at(ccl, i + 1)
                    ).alias("d"),
                    i.cast("int").alias("i"),
                ),
            ),
        ),
    )
    ranked = F.slice(F.sort_array(entries), 1, nprobe)
    return F.transform(ranked, lambda s: s["i"])


def trainer_sample_plan(
    df: DataFrame,
    sample_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic bounded training sample as a DataFrame plan.

    A hash-gate pre-filter (``hash64(id) % 2^40 < t``, the same map-only
    primitive as ``stratified_sample`` at a resolution that survives
    10^10-row corpora — see the gate-rate comment below) thins the corpus
    to ~2×``sample_size``
    expected rows with NO ordering pass over the corpus — the corpus-side
    plan is Scan → Filter, never a per-partition top-k heap — then the
    surviving handful is ranked by the full 60-bit hash (id tiebreak, so
    collisions can't make the sample partitioning-dependent) and truncated
    to exactly ``sample_size``.

    The gate rate needs the corpus cardinality; a bare ``count()`` is a
    count-star scan (no columns materialized) — far cheaper than the
    TakeOrdered heap pass it replaces.  2× oversampling makes the
    probability of gating below ``sample_size`` negligible (Chernoff), and
    the exact-size truncation restores determinism of the sample SET."""
    from kafka_connect_tablestore_spark.functions.text import hash64

    n = df.count()
    h = hash64(F.col(id_col).cast("string"), "ivf")
    sample_df = df.select(
        F.col(vec_col).cast("array<double>").alias("v"),
        h.alias("_h"),
        F.col(id_col).cast("string").alias("_id"),
    )
    if n > 2 * sample_size:
        # 2^40 gate resolution: at 2^20 the integer rate truncates to ZERO
        # once n > 2^21 * sample_size (~4×10^9 rows at the default 2048 —
        # i.e. exactly the 10^10-row scale this plan exists for), silently
        # emptying the training sample.  max(1, ...) guards the residual
        # truncation edge; the 60-bit hash has headroom for a 2^40 modulus.
        gate = max(1, int((1 << 40) * min(1.0, 2.0 * sample_size / n)))
        sample_df = sample_df.where(F.col("_h") % F.lit(1 << 40) < F.lit(gate))
    return sample_df.orderBy("_h", "_id").limit(sample_size)


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    sample_size: int = 2048,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Sampled Lloyd k-means coarse quantizer — the at-scale IVF trainer.

    Deterministic by construction: the training sample comes from
    ``trainer_sample_plan`` (hash-gate filter over the corpus, exact-size
    hash-ranked truncation of the tiny remainder — no corpus-wide ordering
    pass), seeds come from a deterministic farthest-first traversal of
    that sample (the k-means++ maximin variant), and ``iters`` full Lloyd
    rounds run driver-side in numpy.  The collect is bounded by
    ``sample_size`` — at 100 TB the corpus never moves; only ~2k vectors
    do.  Empty cells keep their previous centroid (standard Lloyd
    degeneracy handling).

    Seeding: ``first n_cells sample rows`` (the pre-round-4 rule) collapses
    cells when the corpus is clustered — hash-ranked sampling is uniform
    over rows, so several seeds land inside one dominant blob and whole
    blobs share a cell while other cells converge onto duplicates.
    Farthest-first spreads the seeds across the occupied space (each next
    seed = the sample point at maximum min-cosine-distance from the chosen
    set, ties → lowest sample index), is O(sample × n_cells) driver-side,
    and — unlike textbook k-means++'s random proportional draw — is fully
    deterministic, preserving the run-to-run reproducibility contract."""
    import numpy as np

    sample = trainer_sample_plan(df, sample_size, id_col, vec_col).collect()
    if not sample:
        raise ValueError(
            "train_ivf_centroids: empty corpus — no vectors to train on"
        )
    x = np.asarray([r["v"] for r in sample], dtype=np.float64)
    # spherical k-means: the ANN metric is cosine, so cluster DIRECTIONS —
    # train on unit vectors and re-normalize centroids each round.  Unit
    # centroids also make the downstream raw-vector L2 argmin (ivf_assign)
    # equal the cosine argmax: |v|^2 - 2<v,c> + 1 is minimized where <v,c>
    # is maximized.
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    n_seeds = min(n_cells, len(x))
    cents = x[:n_seeds].copy()
    if n_seeds > 1:
        # farthest-first traversal on the unit sphere (cosine distance);
        # np.argmax's first-max rule IS the lowest-index tie-break
        cents[0] = x[0]
        mind = 1.0 - x @ cents[0]
        for c in range(1, n_seeds):
            i = int(np.argmax(mind))
            cents[c] = x[i]
            mind = np.minimum(mind, 1.0 - x @ cents[c])
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return [[float(v) for v in c] for c in cents]


def ann_ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
) -> DataFrame:
    """IVF-style ANN: train the coarse quantizer, assign every corpus
    vector to its nearest cell (map-only), probe the ``nprobe`` nearest cells
    per query, exact-rank within the probed candidates.

    ``train='first'`` (default): centroids = the first ``n_cells`` vectors
    by id — trivially deterministic, SQL-expressible (the DuckDB oracle
    twin).  ``train='kmeans'``: sampled Lloyd k-means
    (``train_ivf_centroids``) — the quantizer a 100 TB corpus wants; same
    bounded driver collect, better-balanced cells.

    Scale shape: cell assignment is computed once and bucket-written (the
    inverted file); a query then reads nprobe/n_cells of the corpus instead
    of scanning it — the classic recall/latency dial."""
    if train == "kmeans":
        centroids = train_ivf_centroids(
            df, n_cells, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(n_cells).collect()
        ]
    vd = F.col(vec_col).cast("array<double>")
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        vd.alias("cv"),
        _norm(vd).alias("cn"),
        ivf_assign(F.col(vec_col), centroids).alias("cell"),
    )
    # nprobe nearest cells per query, in true distance order — probing the
    # actually-closest cells is what makes nprobe a recall dial on a
    # balanced (k-means) quantizer
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vd.alias("qv"),
        _norm(vd).alias("qn"),
        ivf_probe_cells(F.col(vec_col), centroids, nprobe).alias("_probes"),
    )
    qp = q.withColumn("cell", F.explode(F.col("_probes"))).drop("_probes")

    from pyspark.sql import Window

    scored = (
        corpus.join(F.broadcast(qp), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")), 4
            ).alias("cos_sim"),
        )
        # no dedup: each corpus vector lives in exactly ONE cell and a
        # query's probe cells are distinct, so a (query, neighbor) pair
        # can occur at most once — a dropDuplicates here would be a no-op
        # costing a full shuffle of the candidate set
    )
    return _rank_topk(scored, k, "cos_sim")


def knn_graph(
    df: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
) -> DataFrame:
    """Approximate k-NN GRAPH of the corpus: every vector's top-k cosine
    neighbors among its ``nprobe`` nearest IVF cells — the all-vectors
    analogue of :func:`ann_ivf_topk` and the input structure for
    graph-based dedup triage, cluster labeling, and diversity analysis.

    Deliberately NOT ``ann_ivf_topk(df, df)``: that path BROADCASTS the
    query side, correct for a handful of probes but fatal when queries =
    the whole corpus.  Here both sides stay distributed and meet in a
    plain cell-key equijoin (each cell's members against the vectors
    probing that cell — candidate count is Σ_cell |members|·|probers|,
    never N²), followed by the per-source top-k window partitioned on the
    source id (key-local, no global sort).  Same centroid trainers, scoring
    convention, rounding, and tie rule as ``ann_ivf_topk``."""
    from pyspark.sql import Window

    if train == "kmeans":
        centroids = train_ivf_centroids(
            df, n_cells, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(n_cells).collect()
        ]
    vd = F.col(vec_col).cast("array<double>")
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        vd.alias("cv"),
        _norm(vd).alias("cn"),
        ivf_assign(F.col(vec_col), centroids).alias("cell"),
    )
    probes = (
        df.select(
            F.col(id_col).alias("query_id"),
            vd.alias("qv"),
            _norm(vd).alias("qn"),
            ivf_probe_cells(F.col(vec_col), centroids, nprobe).alias("_probes"),
        )
        .withColumn("cell", F.explode(F.col("_probes")))
        .drop("_probes")
    )
    scored = (
        corpus.join(probes, ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")), 4
            ).alias("cos_sim"),
        )
        # no dedup: each corpus vector lives in exactly ONE cell and a
        # query's probe cells are distinct, so a (query, neighbor) pair
        # can occur at most once — a dropDuplicates here would be a no-op
        # costing a full shuffle of the candidate set
    )
    return _rank_topk(scored, k, "cos_sim")


# ------------------------------------------------ persisted IVF inverted file
def build_ivf_index(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "kmeans",
) -> list[list[float]]:
    """Materialize the IVF inverted file: corpus partitioned BY CELL on disk.

    This is the 100-TB shape ``ann_ivf_topk`` only simulates: cell
    assignment runs ONCE over the corpus (map-only) and the result is
    parquet ``partitionBy(cell)`` — every later query probes nprobe cells
    and Spark's partition pruning means only those directories are ever
    listed or read (~nprobe/n_cells of the corpus per query batch, enforced
    by ``tests/test_plan_audit.py``).  Norms are precomputed into the index
    so a probe pays one dot product per candidate.

    Returns the trained centroids — persist them next to the index (they are
    the query-side contract)."""
    if train == "kmeans":
        centroids = train_ivf_centroids(df, n_cells, id_col=id_col, vec_col=vec_col)
    else:
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(n_cells).collect()
        ]
    vd = F.col(vec_col).cast("array<double>")
    (
        df.select(
            F.col(id_col).alias("neighbor_id"),
            vd.alias("cv"),
            _norm(vd).alias("cn"),
            ivf_assign(F.col(vec_col), centroids).alias("cell"),
        )
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return centroids


def _assert_ids_disjoint(df: DataFrame, path: str, id_col: str) -> None:
    """Enforce the append contract: batch ids must not already exist in the
    persisted index.  The probe paths rank candidates WITHOUT a dedup
    shuffle because one-cell-per-vector makes (query, neighbor) pairs
    unique — a duplicated id would silently consume a top-k slot, so the
    contract is checked, not just documented.  Cost: one column-pruned id
    scan of the index semi-joined against the (small) batch, paid once per
    append; callers at extreme scale can opt out via ``validate_ids=False``
    after establishing disjointness upstream (e.g. a monotonic id
    allocator)."""
    existing = df.sparkSession.read.parquet(path).select("neighbor_id")
    clash = (
        df.select(F.col(id_col).alias("neighbor_id"))
        .join(existing, "neighbor_id", "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        ids = [r["neighbor_id"] for r in clash]
        raise ValueError(
            f"append batch re-uses ids already in the index at {path}: "
            f"{ids} — appends must be id-disjoint (duplicates would "
            "silently displace true neighbors from top-k results); "
            "rebuild the index or re-key the batch"
        )


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = True,
) -> None:
    """Append a new batch's vectors to an existing inverted file using the
    INDEX'S centroids (the query-side contract fixed at build time) — the
    daily-ingest path: assign cells map-only over the batch, append into
    the same ``partitionBy(cell)`` layout.  Ids must be disjoint from the
    indexed corpus — enforced by :func:`_assert_ids_disjoint` unless
    ``validate_ids=False``.  Centroids are deliberately NOT retrained here;
    when drift accumulates, rebuild with :func:`build_ivf_index` (the
    standard IVF re-index cadence)."""
    if validate_ids:
        _assert_ids_disjoint(df, path, id_col)
    vd = F.col(vec_col).cast("array<double>")
    (
        df.select(
            F.col(id_col).alias("neighbor_id"),
            vd.alias("cv"),
            _norm(vd).alias("cn"),
            ivf_assign(F.col(vec_col), centroids).alias("cell"),
        )
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def ann_ivf_indexed_topk(
    spark,
    index_path: str,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a persisted inverted file (``build_ivf_index``).

    The probed cell list is pushed as a partition filter on the index scan —
    ``.explain`` shows ``PartitionFilters: [cell IN (...)]`` and only the
    probed directories are read.  Query side is broadcast (small)."""
    from pyspark.sql import Window

    corpus = spark.read.parquet(index_path)
    vd = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vd.alias("qv"),
        _norm(vd).alias("qn"),
        ivf_probe_cells(F.col(vec_col), centroids, nprobe).alias("_probes"),
    )
    qp = q.withColumn("cell", F.explode(F.col("_probes"))).drop("_probes")
    # partition-pruning filter: the union of all queries' probed cells.
    # Config-bounded driver collect (≤ n_queries × nprobe ints) — at scale
    # the query batch is small by construction.
    probed = sorted(
        {r["cell"] for r in qp.select("cell").distinct().collect()}
    )
    scored = (
        corpus.where(F.col("cell").isin(probed))
        .join(F.broadcast(qp), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")), 4
            ).alias("cos_sim"),
        )
        # no dedup: each corpus vector lives in exactly ONE cell and a
        # query's probe cells are distinct, so a (query, neighbor) pair
        # can occur at most once — a dropDuplicates here would be a no-op
        # costing a full shuffle of the candidate set
    )
    return _rank_topk(scored, k, "cos_sim")


# --------------------------------------------------- product quantization
def train_pq_codebooks(
    df: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
    sample_size: int = 2048,
    iters: int = 5,
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks ``[m][n_codes][dim/m]`` (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search").

    ``train='first'``: codebook j = the j-th subvector of the first
    ``n_codes`` vectors by id — trivially deterministic and shared verbatim
    with the DuckDB oracle (one generator, two engines, like the LSH plane
    table).  ``train='kmeans'``: per-subspace Lloyd over the deterministic
    ``trainer_sample_plan`` sample with farthest-first seeding — the
    codebook a real corpus wants; same bounded driver collect as the IVF
    trainer."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    sub = dim // m
    if train == "first":
        # two-phase first-n: pick the ids on the CHEAP column, then filter.
        # A direct orderBy(id).limit(n).collect() evaluates the caller's
        # vector projection for EVERY row before the TakeOrdered — ruinous
        # when vec_col is a derived expression (the IVFADC residual chain:
        # interpreted higher-order functions, ~12x slower than this form);
        # the id-only predicate pushes below the projection instead.
        first_ids = [
            r[0]
            for r in df.select(id_col).orderBy(id_col).limit(n_codes).collect()
        ]
        rows = sorted(
            df.where(F.col(id_col).isin(first_ids)).collect(),
            key=lambda r: r[id_col],
        )
        short = [
            r[id_col]
            for r in rows
            if r[vec_col] is None
            or len(r[vec_col]) < dim
            or any(x is None for x in r[vec_col][:dim])
        ]
        if short:
            # a shorter vector would yield ragged codebook rows and
            # downstream pq_encode's zip_with would null-pad, producing
            # NULL codes/scores silently — fail loudly instead (mirrors
            # the explicit dim % m check above)
            # len() alone misses residual vectors: zip_with null-PADS a
            # short vector to exactly dim elements, so the tail is None
            raise ValueError(
                f"train='first' vectors shorter than dim={dim} "
                f"(or null-padded): ids {short[:5]}"
            )
        vecs = [[float(x) for x in r[vec_col]][:dim] for r in rows]
        return [
            [v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m)
        ]
    import numpy as np

    sample = trainer_sample_plan(df, sample_size, id_col, vec_col).collect()
    if not sample:
        raise ValueError("train_pq_codebooks: empty corpus — nothing to train on")
    bad = [
        i
        for i, r in enumerate(sample)
        if r["v"] is None
        or len(r["v"]) < dim
        or any(x is None for x in r["v"][:dim])
    ]
    if bad:
        # without this, a uniformly short corpus trains zero-width
        # subspaces for the tail codebooks (every row encodes to code 0 —
        # silent recall collapse), and mixed lengths crash inside numpy
        raise ValueError(
            f"train='kmeans' sampled vectors shorter than dim={dim} "
            f"(or null-padded) at sample positions {bad[:5]}"
        )
    x = np.asarray([r["v"][:dim] for r in sample], dtype=np.float64)
    books: list[list[list[float]]] = []
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        n_seeds = min(n_codes, len(xj))
        cents = xj[:n_seeds].copy()
        if n_seeds > 1:
            # farthest-first traversal in L2 (PQ quantizes subvectors, not
            # directions — no unit normalization here)
            cents[0] = xj[0]
            mind = ((xj - cents[0]) ** 2).sum(axis=1)
            for c in range(1, n_seeds):
                i = int(np.argmax(mind))
                cents[c] = xj[i]
                mind = np.minimum(mind, ((xj - cents[c]) ** 2).sum(axis=1))
        for _ in range(iters):
            d2 = ((xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = xj[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _pq_subspace_dists(vd, j, codebooks):
    """Distance array of subvector ``j`` against its codebook — the ONE
    definition of the numerically sensitive L2 expansion
    ``|v|² − 2⟨v,c⟩ + |c|²`` whose fold order is load-bearing for oracle
    bit-equality; shared by :func:`pq_encode` and
    :func:`_pq_encode_staged` so the two paths cannot drift."""
    sub = len(codebooks[j][0])
    rows = [[float(x) for x in c] for c in codebooks[j]]
    cb = _lit_mat(rows)
    # <c,c> precomputed per codeword with the identical IEEE fold and let-
    # bound vj/vv: the inline form re-evaluated the slice and both folds
    # per CODEWORD (n_codes x per row) — see ivf_assign.
    ccl = _lit_vec([_fold_dot(c, c) for c in rows])
    return _let(
        {"vj": F.slice(vd, j * sub + 1, sub)},
        lambda vj: _let(
            {"vv": _dot(vj, vj)},
            lambda vv: F.zip_with(
                cb, ccl, lambda c, k: (vv - F.lit(2.0) * _dot(vj, c)) + k
            ),
        ),
    )


def pq_encode(vec_col, codebooks: list[list[list[float]]]):
    """``array<int>`` of ``m`` code indices: subvector j is assigned to its
    L2-nearest codeword (same algebraic expansion and first-min tie rule as
    ``ivf_assign``, per subspace).  Pure expression — map-only; the encoded
    corpus is ``m`` bytes/vector instead of ``dim`` floats, the compression
    that lets a 10^10-vector index live in memory."""
    v = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    m = len(codebooks)
    vd = v.cast("array<double>")
    codes = []
    for j in range(m):
        darr = _pq_subspace_dists(vd, j, codebooks)
        codes.append(
            _let(
                {"d": darr},
                lambda d: F.array_position(d, F.array_min(d)) - 1,
            ).cast("int")
        )
    return F.array(*codes)


def _pq_encode_staged(frame, vec, codebooks, keep):
    """:func:`pq_encode` with each subspace's distance array bound ONCE as
    a named column.  The expression form inlines ``darr`` into both
    ``array_min`` (find the best distance) and ``array_position`` (find
    its index), so the n_codes interpreted distance folds run TWICE per
    row and the codebook literal is duplicated in the tree; the staged
    projection materializes each ``_d{j}`` once per row and the argmin
    reads the column.  Same distances, same first-min tie rule — codes
    are bit-identical (covered by the PQ equality/oracle tests).

    ``keep`` lists passthrough Columns/names for the staged select.
    Returns ``(staged_frame, codes_expr)``.
    """
    m = len(codebooks)
    vd = vec.cast("array<double>")
    d_cols = [
        _pq_subspace_dists(vd, j, codebooks).alias(f"_d{j}") for j in range(m)
    ]
    staged = frame.select(*keep, *d_cols)
    codes = F.array(
        *[
            (
                F.array_position(
                    F.col(f"_d{j}"), F.array_min(F.col(f"_d{j}"))
                )
                - 1
            ).cast("int")
            for j in range(m)
        ]
    )
    return staged, codes


def _pq_score(qv, codes, codebooks):
    """ADC inner product ⟨q, x̂⟩ and reconstruction norm |x̂| from the code
    array — unrolled per subspace (m is small), every term a left-fold dot
    on literal codewords, bit-identical to the SQL twin."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    ip = None
    rn2 = None
    for j in range(m):
        rows = [[float(x) for x in c] for c in codebooks[j]]
        cb = _lit_mat(rows)
        cw = F.element_at(cb, F.element_at(codes, j + 1) + 1)
        qj = F.slice(qv, j * sub + 1, sub)
        term = _dot(qj, cw)
        # |c|^2 is constant per codeword: literal lookup instead of a
        # per-row fold (identical IEEE fold at plan build — `_fold_dot`)
        norm_term = F.element_at(
            _lit_vec([_fold_dot(c, c) for c in rows]),
            F.element_at(codes, j + 1) + 1,
        )
        ip = term if ip is None else ip + term
        rn2 = norm_term if rn2 is None else rn2 + norm_term
    return ip, F.sqrt(rn2)


def _pq_score_staged(joined, codebooks, keep):
    """:func:`_pq_score` with the per-subspace SELECTED codeword bound ONCE
    as a named column.  The inline form repeats ``element_at(codebook_lit,
    code+1)`` — and through it the whole n_codes×sub literal table — at
    every reference (the ip term, the norm term), so the expression tree
    carries thousands of duplicated literal nodes and the driver pays for
    them twice: once in py4j construction, once per analyzer/optimizer
    walk.  Staging keeps one literal per subspace and, because the aliases
    are expensive and multiply-referenced, Catalyst's CollapseProject
    leaves the projection boundary in place so each codeword is also
    MATERIALIZED once per row instead of re-evaluated per term.  The folds
    over the bound columns keep the exact association order of
    :func:`_pq_score`, so scores are bit-identical (equality asserted by
    the PQ test family and the DuckDB twins).

    ``joined`` must carry ``qv`` and ``codes``; ``keep`` lists the
    passthrough columns.  Returns ``(staged_frame, ip_expr, rn_expr)`` —
    callers with a stored reconstruction norm simply ignore the third.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cw_cols = [
        F.element_at(
            _lit_mat(codebooks[j]),
            F.element_at(F.col("codes"), j + 1) + 1,
        ).alias(f"_cw{j}")
        for j in range(m)
    ]
    # |c|^2 per selected codeword: a literal lookup on the stored code
    # (identical IEEE fold at plan build) instead of a per-row dim/m fold
    cc_cols = [
        F.element_at(
            _lit_vec([_fold_dot(c, c) for c in codebooks[j]]),
            F.element_at(F.col("codes"), j + 1) + 1,
        ).alias(f"_cc{j}")
        for j in range(m)
    ]
    staged = joined.select(
        *[F.col(c) for c in keep], F.col("qv"), *cw_cols, *cc_cols
    )
    ip = None
    rn2 = None
    for j in range(m):
        cw = F.col(f"_cw{j}")
        term = _dot(F.slice(F.col("qv"), j * sub + 1, sub), cw)
        norm_term = F.col(f"_cc{j}")
        ip = term if ip is None else ip + term
        rn2 = norm_term if rn2 is None else rn2 + norm_term
    return staged, ip, F.sqrt(rn2)


def ann_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
) -> DataFrame:
    """PQ-compressed approximate top-k by asymmetric distance computation:
    the corpus is quantized to ``m`` code indices (map-only; at scale the
    codes are what gets stored — ``m`` bytes vs ``dim`` floats), each query
    keeps its EXACT vector, and the score is the cosine between the query
    and the corpus vector's reconstruction
    ``cos(q, x̂) = Σ_j ⟨q_j, c_{j,code_j}⟩ / (|q|·|x̂|)``.

    The asymmetric form (exact query × quantized corpus) is what makes PQ
    usable: quantization error enters once, not twice.  Composes with IVF
    (coarse cell prune, then ADC inside probed cells) — here the scan is
    full-corpus so the oracle stays one query; the compose-at-scale path is
    ``build_ivf_index`` + codes as an index column."""
    codebooks = train_pq_codebooks(
        df, m, n_codes, dim, id_col, vec_col, train
    )
    vd = F.col(vec_col).cast("array<double>")
    dstage, codes_expr = _pq_encode_staged(
        df, F.col(vec_col), codebooks, [F.col(id_col).alias("neighbor_id")]
    )
    corpus = dstage.select("neighbor_id", codes_expr.alias("codes"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(vd, 1, dim).alias("qv"),
    )
    qn = _norm(F.col("qv"))
    joined = corpus.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    )
    staged, ip, rn = _pq_score_staged(
        joined, codebooks, ["query_id", "neighbor_id"]
    )
    scored = staged.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine(ip, qn, rn), 4).alias("pq_cos"),
    )
    return _rank_topk(scored, k, "pq_cos")


def _pq_recon_norm(codes, codebooks: list[list[list[float]]]):
    """|x̂| from the code array alone — query-independent, so the persisted
    IVF-PQ index precomputes it once per vector."""
    m = len(codebooks)
    rn2 = None
    for j in range(m):
        # |c|^2 per codeword precomputed with the identical IEEE fold —
        # the whole norm is m literal lookups per row, no folds
        term = F.element_at(
            _lit_vec([_fold_dot(c, c) for c in codebooks[j]]),
            F.element_at(codes, j + 1) + 1,
        )
        rn2 = term if rn2 is None else rn2 + term
    return F.sqrt(rn2)


def _unit_list(vec: list[float]) -> list[float]:
    """Unit-normalize a python-side vector (zero vectors pass through)."""
    n = sum(x * x for x in vec) ** 0.5 or 1.0
    return [x / n for x in vec]


def _pq_recon_norm_with_centroid(codes, codebooks, centroid):
    """|ĉ + r̂| where r̂ is the PQ reconstruction of a RESIDUAL code and ĉ
    the (column-expression) coarse centroid: |x̂|² = |ĉ|² + 2⟨ĉ, r̂⟩ + |r̂|²,
    expanded per subspace so no concatenated reconstruction array is ever
    built.  Query-independent — precomputed once per vector at build."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    rn2 = _dot(centroid, centroid)
    for j in range(m):
        cb = _lit_mat(codebooks[j])
        cw = F.element_at(cb, F.element_at(codes, j + 1) + 1)
        cj = F.slice(centroid, j * sub + 1, sub)
        rn2 = rn2 + F.lit(2.0) * _dot(cj, cw) + _dot(cw, cw)
    return F.sqrt(rn2)


def _pq_recon_norm_residual(codes, codebooks, unit_cents, cell):
    """:func:`_pq_recon_norm_with_centroid` with every fold over LITERAL
    operands hoisted to plan build: |ĉ|², ⟨ĉ_j, c⟩ and |c|² only depend on
    (cell, code_j), so they are precomputed with the identical IEEE fold
    (`_fold_dot`) and shipped as lookup tables — per row the norm is
    ~3m array lookups instead of 2m+1 sub-dim folds.  Bit-identical by the
    shared fold order (the residual-twin test proves the whole chain);
    kept as a separate function so the column-form original remains the
    test's independent reconstruction."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    rn2 = F.element_at(
        _lit_vec([_fold_dot(uc, uc) for uc in unit_cents]), cell + 1
    )
    for j in range(m):
        cross = [
            [
                _fold_dot(uc[j * sub : (j + 1) * sub], cw)
                for cw in codebooks[j]
            ]
            for uc in unit_cents
        ]
        cross_t = F.element_at(
            F.element_at(_lit_mat(cross), cell + 1),
            F.element_at(codes, j + 1) + 1,
        )
        ccw_t = F.element_at(
            _lit_vec([_fold_dot(cw, cw) for cw in codebooks[j]]),
            F.element_at(codes, j + 1) + 1,
        )
        rn2 = rn2 + F.lit(2.0) * cross_t + ccw_t
    return F.sqrt(rn2)


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "kmeans",
    encode: str = "residual",
) -> dict:
    """The production ANN index: IVF coarse cells for pruning × PQ codes
    for compression (Jégou et al.'s IVFADC).  One map-only pass assigns
    every vector a cell, its ``m`` PQ code indices, and the precomputed
    reconstruction norm; rows persist as parquet ``partitionBy(cell)``.
    Per vector the index stores ``m`` small ints + one double instead of
    ``dim`` floats — at 10^10 vectors that is the difference between an
    in-memory index and none.  Returns ``{'centroids', 'codebooks',
    'encode'}`` — the query-side contract.

    ``encode='residual'`` (default) is IVFADC proper, in its spherical
    form: the metric is cosine (norm-invariant), so the residual is taken
    between UNIT vectors — ``r = x/|x| − ĉ/|ĉ|`` — and the codebooks'
    full resolution describes the small within-cell angular displacement
    instead of re-describing the coarse cell position; recall at fixed
    ``m`` improves on any clustered corpus (the fidelity test shows the
    gap).  Subtracting the un-normalized centroid would be wrong here:
    the spherical trainer's centroids are unit-norm while corpus vectors
    are not, so ``x − ĉ`` is dominated by a radial ``(|x|−1)`` component
    that is near-constant within a cell and carries no ranking
    information — measured on a clustered corpus it makes the residual
    reconstruction error WORSE than a zero codebook.  The stored norm is
    the full reconstruction's ``|ĉ + r̂|`` and query scoring adds the
    exact ``⟨q, ĉ⟩`` cell term back, so the query contract is unchanged.
    ``encode='raw'`` quantizes the vector itself — one less moving part,
    kept for comparison and as the pre-round-5 layout."""
    if encode not in ("residual", "raw"):
        raise ValueError(f"encode must be 'residual' or 'raw', got {encode!r}")
    if train == "kmeans":
        centroids = train_ivf_centroids(df, n_cells, id_col=id_col, vec_col=vec_col)
    else:
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(n_cells).collect()
        ]
    corpus, codebooks = _ivfpq_corpus_plan(
        df, centroids, m, n_codes, dim, id_col, vec_col, train, encode
    )
    (
        corpus.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return {"centroids": centroids, "codebooks": codebooks, "encode": encode}


def _ivfpq_corpus_plan(
    df: DataFrame,
    centroids: list[list[float]],
    m: int,
    n_codes: int,
    dim: int,
    id_col: str,
    vec_col: str,
    train: str,
    encode: str,
    codebooks: list | None = None,
    cells: list[int] | None = None,
):
    """The IVFADC encode pass as a (plan, codebooks) pair — shared by the
    persisted index build and the one-shot in-memory query: a map-only
    chain producing ``(neighbor_id, codes, rn, cell)`` per vector.
    When ``codebooks`` is given (the incremental-append path) training is
    skipped and the batch is encoded under the index's fixed contract.

    ``cells`` (one-shot query path): restrict the ENCODE to vectors whose
    coarse cell is in the list.  Training (when requested) always sees the
    full corpus — the contract is unchanged — but vectors outside the
    probed cells can never become candidates, so PQ-encoding them is pure
    waste; the filter sits between cell assignment and the encode, the
    same partition-prune shape as ``ann_ivfpq_indexed_topk``.

    The chain is deliberately STAGED across selects: the cell id, the
    normalized vector and the residual are bound as named columns, not
    inlined expressions.  Higher-order functions (``transform``/
    ``zip_with``/``aggregate``) evaluate interpreted, outside whole-stage
    codegen, and re-evaluate per reference — inlining the residual into
    the encode multiplies the per-row work ~50× (minutes instead of
    seconds at dim=64).  Catalyst's CollapseProject keeps the stages
    separate because the aliases are expensive and multiply-referenced;
    per-element re-evaluation INSIDE lambdas is handled by ``_let``."""
    vd = F.col(vec_col).cast("array<double>")
    cell = ivf_assign(F.col(vec_col), centroids)
    if encode == "residual":
        unit_cents = [_unit_list([float(x) for x in c][:dim]) for c in centroids]
        cl = _lit_mat(unit_cents)
        # x/|x| with the norm let-bound: the inline form re-evaluated the
        # dim-length norm fold per ELEMENT (dim× per row)
        uv = _let(
            {"xs": F.slice(vd, 1, dim)},
            lambda xs: _let(
                {"xn": _norm(xs)},
                lambda xn: F.transform(
                    xs, lambda x: x / F.when(xn > 0, xn).otherwise(F.lit(1.0))
                ),
            ),
        )
        # stage the cell id FIRST so the residual reads it as a column —
        # the single-select form evaluated ivf_assign twice per row (once
        # for the output column, once inside the centroid lookup)
        stage0 = df.select(
            F.col(id_col), cell.alias("cell"), uv.alias("_uv")
        )
        if codebooks is None:
            resid_all = stage0.select(
                F.col(id_col),
                F.zip_with(
                    F.col("_uv"),
                    F.element_at(cl, F.col("cell") + 1),
                    lambda x, y: x - y,
                ).alias(vec_col),
            )
            codebooks = train_pq_codebooks(
                resid_all, m, n_codes, dim, id_col, vec_col, train,
            )
        if cells is not None:
            stage0 = stage0.where(F.col("cell").isin([int(c) for c in cells]))
        staged = stage0.select(
            F.col(id_col),
            F.col("cell"),
            F.zip_with(
                F.col("_uv"),
                F.element_at(cl, F.col("cell") + 1),
                lambda x, y: x - y,
            ).alias("_resid"),
        )
        dstage, codes_expr = _pq_encode_staged(
            staged, F.col("_resid"), codebooks, [F.col(id_col), F.col("cell")]
        )
        coded = dstage.select(F.col(id_col), "cell", codes_expr.alias("codes"))
        rn = _pq_recon_norm_residual(
            F.col("codes"), codebooks, unit_cents, F.col("cell")
        )
    else:
        if codebooks is None:
            codebooks = train_pq_codebooks(
                df, m, n_codes, dim, id_col, vec_col, train
            )
        stage0 = df.select(F.col(id_col), F.col(vec_col), cell.alias("cell"))
        if cells is not None:
            stage0 = stage0.where(F.col("cell").isin([int(c) for c in cells]))
        dstage, codes_expr = _pq_encode_staged(
            stage0, F.col(vec_col), codebooks, [F.col(id_col), F.col("cell")]
        )
        coded = dstage.select(F.col(id_col), "cell", codes_expr.alias("codes"))
        rn = _pq_recon_norm(F.col("codes"), codebooks)
    corpus = coded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("codes"),
        rn.alias("rn"),
        F.col("cell"),
    )
    return corpus, codebooks


def append_to_ivfpq_index(
    df: DataFrame,
    path: str,
    meta: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = True,
) -> None:
    """Append a new batch's vectors to an existing IVFADC index under the
    INDEX'S contract — the centroids AND codebooks fixed at build time
    (``build_ivfpq_index``'s return value): assign cells, residual-encode
    against the frozen codebooks, append into the same ``partitionBy(cell)``
    layout.  Ids must be disjoint from the indexed corpus — enforced by
    :func:`_assert_ids_disjoint` unless ``validate_ids=False``.  Neither
    quantizer retrains here (retraining either would silently change the
    meaning of every previously stored code); when drift accumulates,
    rebuild — the standard IVF/PQ re-index cadence."""
    if validate_ids:
        _assert_ids_disjoint(df, path, id_col)
    codebooks = meta["codebooks"]
    m = len(codebooks)
    n_codes = len(codebooks[0])
    dim = m * len(codebooks[0][0])
    corpus, _ = _ivfpq_corpus_plan(
        df, meta["centroids"], m, n_codes, dim, id_col, vec_col,
        "first", meta["encode"], codebooks=codebooks,
    )
    (
        corpus.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def ann_ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
    encode: str = "residual",
) -> DataFrame:
    """One-shot spherical IVFADC: the same math as ``build_ivfpq_index`` +
    ``ann_ivfpq_indexed_topk`` but in a single plan with no persisted
    index — coarse-quantize, residual-PQ-encode, probe the ``nprobe``
    nearest cells per query, ADC-score, exact-rank.  The ad-hoc query
    shape (exploratory/one-time ANN over a corpus you won't query again);
    the repeated-query path stays the persisted index.

    Scale shape: the encode pass is map-only (the cell/codes/rn select),
    queries broadcast with their probe lists, and the cell-key equijoin
    prunes each query to its probed cells' candidates — no all-pairs, no
    corpus shuffle.  Identical numeric contract to the indexed variant
    (same codebooks, same ⟨q, ĉ⟩ add-back for ``encode='residual'``, same
    4-decimal rounding and tie rule), proven by the equality test."""
    from pyspark.sql import Window

    codebooks = None
    if train == "kmeans":
        centroids = train_ivf_centroids(df, n_cells, id_col=id_col, vec_col=vec_col)
    else:
        # ONE bounded collect serves both 'first' trainers: the coarse
        # centroids are the first n_cells vectors and the codebooks are the
        # (residuals of the) first n_codes vectors, so deriving the
        # codebooks here replaces train_pq_codebooks' two extra Spark jobs
        # (id-scan + isin-collect over the residual plan) with driver
        # arithmetic that replays the EXACT expression-side math — fold
        # order (`_fold_dot`), first-min argmin, slice-then-normalize —
        # and is therefore bit-identical (the ivfpq equality tests and the
        # DuckDB twin hold).
        head = df.orderBy(id_col).limit(max(n_cells, n_codes)).collect()
        centroids = [
            [float(x) for x in r[vec_col]] for r in head[:n_cells]
        ]
        sub = dim // m
        if dim % m != 0:
            raise ValueError(f"dim={dim} must be divisible by m={m}")
        train_rows = head[:n_codes]
        short = [
            r[id_col]
            for r in train_rows
            if r[vec_col] is None
            or len(r[vec_col]) < dim
            or any(x is None for x in r[vec_col][:dim])
        ]
        if short:
            raise ValueError(
                f"train='first' vectors shorter than dim={dim} "
                f"(or null-padded): ids {short[:5]}"
            )
        if encode == "residual":
            ucs = [_unit_list([float(x) for x in c][:dim]) for c in centroids]
            ccs = [_fold_dot(c, c) for c in centroids]
            vecs = []
            for r in train_rows:
                full = [float(x) for x in r[vec_col]]
                # cell = first-min argmin of (vv - 2<v,c>) + <c,c> over the
                # FULL vector — ivf_assign's exact expansion and tie rule
                vv = _fold_dot(full, full)
                dists = [
                    (vv - 2.0 * _fold_dot(full, c)) + cc
                    for c, cc in zip(centroids, ccs)
                ]
                cell = dists.index(min(dists))
                xs = full[:dim]
                # math.sqrt is correctly rounded (IEEE) like JVM Math.sqrt;
                # `** 0.5` goes through pow and may differ in the last ulp
                xn = math.sqrt(_fold_dot(xs, xs))
                uv = [x / (xn if xn > 0 else 1.0) for x in xs]
                vecs.append([a - b for a, b in zip(uv, ucs[cell])])
        else:
            vecs = [[float(x) for x in r[vec_col]][:dim] for r in train_rows]
        codebooks = [
            [v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m)
        ]
    vd = F.col(vec_col).cast("array<double>")
    qp = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.slice(vd, 1, dim).alias("qv"),
            ivf_probe_cells(F.col(vec_col), centroids, nprobe).alias("_probes"),
        )
        .withColumn("cell", F.explode(F.col("_probes")))
        .drop("_probes")
    )
    # the query side is small by contract (it broadcasts below), so the
    # probed-cell set is a bounded collect — exactly the partition-prune
    # the indexed variant does; vectors outside these cells can never be
    # candidates, so the corpus plan skips PQ-encoding them entirely
    probed = sorted({r["cell"] for r in qp.select("cell").distinct().collect()})
    corpus, codebooks = _ivfpq_corpus_plan(
        df, centroids, m, n_codes, dim, id_col, vec_col, train, encode,
        codebooks=codebooks, cells=probed,
    )
    joined = corpus.join(F.broadcast(qp), ["cell"]).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    staged, ip, _ = _pq_score_staged(
        joined, codebooks, ["query_id", "neighbor_id", "rn", "cell"]
    )
    if encode == "residual":
        cl = _lit_mat([_unit_list([float(x) for x in c][:dim]) for c in centroids])
        ip = ip + _dot(F.col("qv"), F.element_at(cl, F.col("cell") + 1))
    qn = _norm(F.col("qv"))
    # no dedup: one cell per vector + distinct probe cells means a
    # (query, neighbor) pair occurs at most once; a dropDuplicates here
    # would be a no-op costing a full shuffle of the candidate set
    scored = staged.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine(ip, qn, F.col("rn")), 4).alias("pq_cos"),
    )
    return _rank_topk(scored, k, "pq_cos")


def ann_ivfpq_indexed_topk(
    spark,
    index_path: str,
    meta: dict,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC query: probe the ``nprobe`` nearest cells (partition-pruned
    index scan — only those directories are listed or read), score each
    candidate by asymmetric distance against its stored PQ codes, exact-
    rank within candidates.  The query side stays exact (its true vector
    and norm); per candidate the work is ``m`` literal-codeword dot
    products on ``m`` ints + one stored double — no corpus vector is ever
    read.  For a ``meta['encode']=='residual'`` index (spherical IVFADC)
    the stored codes describe ``x/|x| − ĉ``, so the inner product adds the
    exact per-(query, cell) unit-centroid term ``⟨q, ĉ⟩`` back — one
    literal-array lookup per candidate row, no extra shuffle or scan."""
    from pyspark.sql import Window

    codebooks = meta["codebooks"]
    centroids = meta["centroids"]
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dim = m * sub
    corpus = spark.read.parquet(index_path)
    vd = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(vd, 1, dim).alias("qv"),
        ivf_probe_cells(F.col(vec_col), centroids, nprobe).alias("_probes"),
    )
    qp = q.withColumn("cell", F.explode(F.col("_probes"))).drop("_probes")
    probed = sorted({r["cell"] for r in qp.select("cell").distinct().collect()})
    joined = (
        corpus.where(F.col("cell").isin(probed))
        .join(F.broadcast(qp), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    staged, ip, _ = _pq_score_staged(
        joined, codebooks, ["query_id", "neighbor_id", "rn", "cell"]
    )
    if meta.get("encode", "raw") == "residual":
        cl = _lit_mat([_unit_list([float(x) for x in c][:dim]) for c in centroids])
        ip = ip + _dot(F.col("qv"), F.element_at(cl, F.col("cell") + 1))
    qn = _norm(F.col("qv"))
    # no dedup: one cell per vector + distinct probe cells means a
    # (query, neighbor) pair occurs at most once; a dropDuplicates here
    # would be a no-op costing a full shuffle of the candidate set
    scored = staged.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine(ip, qn, F.col("rn")), 4).alias("pq_cos"),
    )
    return _rank_topk(scored, k, "pq_cos")


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 16,
    n_tables: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets (bucket-local
    self-join — never all-pairs).

    ``max_bucket`` drops (table, bucket) buckets holding more than that
    many vectors before the self-join — the hot-bucket cap
    (``minhash_lsh_pairs`` has the same knob): a degenerate bucket (e.g.
    a mass of near-zero or template embeddings hashing identically in
    one table) would otherwise serialize into one quadratic join task.
    A pair is lost only if over-capped in EVERY table it collides in.

    OR-amplified over ``n_tables`` independent hash tables (seeds
    ``lsh``, ``lsh1``, ...): a pair is a candidate if it collides in ANY
    table, lifting recall from p to 1-(1-p)^T — the standard LSH
    construction (per-table collision probability for random sign planes is
    (1 - θ/π)^n_planes).  Cost is T bucket-joins' worth of candidates, never
    O(N²) — realized as ONE self-join: every vector computes all T buckets
    in a single scan, ``posexplode``s to ``(table, bucket)`` rows, and the
    join keys on the pair (so a probe shuffles once, not T times; candidate
    volume is identical to T separate joins).  A pair colliding in several
    tables dedups on (vec_a, vec_b) — cos_sim is identical per pair, so a
    plain ``distinct`` suffices."""
    buckets = F.array(
        *[
            hyperplane_bucket(
                F.col(vec_col), n_planes, dim, seed=("lsh" if t == 0 else f"lsh{t}")
            )
            for t in range(n_tables)
        ]
    )
    vd = F.col(vec_col).cast("array<double>")
    # norms are per-VECTOR: evaluate them once per row here, not once per
    # candidate pair in the join (HOF aggregates don't codegen to tight
    # loops, so per-pair norms dominated the join's cost).  Same expression
    # tree as `cosine`, so dot/(na*nb) stays bit-identical to the oracle.
    b = df.select(
        F.col(id_col),
        vd.alias("v"),
        _norm(vd).alias("n"),
        F.posexplode(buckets).alias("t", "bucket"),
    )
    if max_bucket is not None:
        sizes = b.groupBy("t", "bucket").agg(F.count(F.lit(1)).alias("_bsz"))
        b = b.join(
            sizes.where(F.col("_bsz") <= max_bucket), ["t", "bucket"]
        ).drop("_bsz")
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.t") == F.col("c.t"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"c.{id_col}").alias("vec_b"),
            F.round(
                _cosine(_dot(F.col("a.v"), F.col("c.v")), F.col("a.n"), F.col("c.n")), 4
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )


def _greedy_source_elimination(
    edges: DataFrame, remaining: DataFrame, max_iter: int, mode_label: str,
    id_col: str,
) -> DataFrame | None:
    """The ONE source-elimination fixpoint shared by :func:`semantic_dedup`
    and :func:`incremental_semantic_dedup` (two copies of a
    correctness-critical loop would silently drift).  ``edges`` must be a
    materialized (src, dst) dominance DAG and ``remaining`` the
    checkpointed id-only frontier.  Per round: vertices still dominated
    stay (semi-join on the in-edge set), kills are the dsts of
    source-rooted edges; ``localCheckpoint`` truncates per-round lineage
    and each round costs ONE eager job plus an ``isEmpty`` probe.  Returns
    the union of per-round kill sets (duplicates possible — callers
    ``distinct()``), or ``None`` when nothing was ever killed.  Updates
    :func:`last_semantic_dedup_stats` and raises ``ConvergenceError`` when
    the dominance-chain depth exceeds ``max_iter``."""
    from kafka_connect_tablestore_spark.operators.clustering import (
        ConvergenceError,
    )

    global _LAST_SEMANTIC_DEDUP_STATS
    killed_rounds: list[DataFrame] = []
    done = remaining.isEmpty()
    rounds = 0
    for _ in range(max_iter):
        if done:
            break
        rounds += 1
        active = edges.join(
            remaining, edges["src"] == remaining[id_col], "left_semi"
        ).join(remaining, edges["dst"] == remaining[id_col], "left_semi")
        has_in = active.select(F.col("dst").alias(id_col))
        # sources = remaining ∖ has_in are confirmed survivors; what they
        # dominate dies: kills = dst of edges whose src has no in-edge
        killed = active.join(
            has_in.withColumnRenamed(id_col, "_in"),
            active["src"] == F.col("_in"),
            "left_anti",
        ).select(F.col("dst").alias(id_col))
        killed_rounds.append(killed)
        # next frontier = still-dominated vertices minus the newly killed.
        # The checkpoint is LAZY and the emptiness test is the materializing
        # count: ONE job per round persists every partition AND yields the
        # row count (the eager-checkpoint + isEmpty form paid two).
        remaining = (
            remaining.join(has_in, id_col, "left_semi")
            .join(killed, id_col, "left_anti")
            .localCheckpoint(eager=False)
        )
        done = remaining.count() == 0
    _LAST_SEMANTIC_DEDUP_STATS = {
        "mode": mode_label,
        "rounds_executed": rounds,
        "max_iter": max_iter,
        "converged": bool(done),
        "headroom": round(1.0 - rounds / max_iter, 4),
    }
    if not done:
        raise ConvergenceError(
            f"semantic dedup ({mode_label}) did not converge within "
            f"max_iter={max_iter} (dominance-chain depth exceeds the round "
            "budget; raise max_iter)"
        )
    if not killed_rounds:
        return None
    out = killed_rounds[0]
    for k in killed_rounds[1:]:
        out = out.unionByName(k)
    return out


def build_semantic_index(
    df: DataFrame,
    path: str,
    threshold: float = 0.9,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
) -> list[list[float]]:
    """Run :func:`semantic_dedup` (greedy) over the corpus and persist the
    SURVIVORS — id, vector, norm, cell — as parquet ``partitionBy(cell)``:
    the semantic-dedup analogue of the LSH/chunk/IVF incremental indexes.
    Returns the centroids (the query-side contract, persist them with the
    index).  Survivor-only storage is what makes the daily probe cheap:
    dominated vectors can never dominate (greedy rule), so the index drops
    them forever."""
    from .index_maint import ensure_index_params

    if train == "kmeans":
        centroids = train_ivf_centroids(df, n_cells, id_col=id_col, vec_col=vec_col)
    else:
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(n_cells).collect()
        ]
    # freeze the ACTUAL centroid count: a small corpus yields fewer than
    # the requested n_cells, and incremental_semantic_dedup validates the
    # sidecar against len(centroids) — freezing the request would hard-fail
    # every later batch of a legitimately built index
    ensure_index_params(
        path, {"threshold": threshold, "n_cells": len(centroids)}, overwrite=True
    )
    surv = semantic_dedup(
        df, threshold, n_cells, id_col, vec_col, train=train, centroids=centroids
    ).where(F.col("is_survivor")).select(id_col)
    vd = F.col(vec_col).cast("array<double>")
    (
        df.join(surv, id_col, "left_semi")
        .select(
            F.col(id_col),
            vd.alias("v"),
            _norm(vd).alias("n"),
            ivf_assign(F.col(vec_col), centroids).alias("cell"),
        )
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return centroids


def incremental_semantic_dedup(
    spark,
    index_path: str,
    centroids: list[list[float]],
    new_vecs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """Semantic-dedup a NEW batch against a persisted survivor index
    (:func:`build_semantic_index`) without touching the corpus vectors.

    Precondition: batch ids sort AFTER every indexed id (monotone daily
    ingest).  Under that ordering the result equals
    ``semantic_dedup(corpus ∪ new)`` restricted to the new ids, because
    the greedy scan is prefix-stable: corpus survivorship is decided
    entirely by smaller ids, so new vectors can never flip it, and a new
    vector's surviving smaller-id neighbors are exactly (a) index
    survivors in its cell and (b) earlier batch survivors.  Two stages:

    1. index dominance — drop batch vectors with ANY same-cell index
       survivor at cosine ≥ threshold.  The index scan is partition-pruned
       to the batch's cells; the join keys on the cell and is left to AQE —
       unlike the LSH/chunk probes (which broadcast a NARROW batch
       projection, ~80 bytes/row), the batch side here carries full
       vectors, and a forced broadcast of a heavy ingest day would pin it
       in driver+executor memory.  AQE broadcasts automatically when the
       batch actually fits.
    2. within-batch greedy — :func:`semantic_dedup`'s fixpoint over the
       remaining batch vectors only (cells fixed by the index centroids).

    Returns ``(per_vec, kept_rows)``: ``per_vec`` has semantic_dedup's
    schema for every new vector; ``kept_rows`` are index-format survivor
    rows ready for ``append``-mode parquet into the index once the batch
    commits."""
    from .index_maint import ensure_index_params

    ensure_index_params(
        index_path, {"threshold": threshold, "n_cells": len(centroids)}
    )

    vd = F.col(vec_col).cast("array<double>")
    batch = new_vecs.select(
        F.col(id_col),
        vd.alias("v"),
        _norm(vd).alias("n"),
        ivf_assign(F.col(vec_col), centroids).alias("cell"),
    ).localCheckpoint(eager=True)
    probe_cells = [r["cell"] for r in batch.select("cell").distinct().collect()]
    idx = spark.read.parquet(index_path)
    if probe_cells:
        idx = idx.where(F.col("cell").isin(probe_cells))
    # the id inequality is self-exclusion: an index copy of a vector must
    # never dominate the vector itself (cosine 1.0 ≥ any threshold).  A
    # no-op under the monotone-id precondition, but a crash-replay that
    # re-probes after its own survivor append landed would otherwise flip
    # every survivor to dominated-by-its-own-copy.
    dominated_by_index = (
        idx.alias("i")
        .join(
            batch.alias("b"),
            (F.col("i.cell") == F.col("b.cell"))
            & (F.col(f"i.{id_col}") != F.col(f"b.{id_col}")),
        )
        .where(
            _cosine(
                _dot(F.col("i.v"), F.col("b.v")), F.col("i.n"), F.col("b.n")
            )
            >= threshold
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        # id-only and tiny; materialized ONCE so the partition-pruned index
        # scan + dominance join does not re-run for each of its three
        # consumers (the edge build references `alive` on BOTH join sides,
        # the frontier checkpoint, and the final verdict join)
        .localCheckpoint(eager=True)
    )
    # fresh attribute ids: the checkpointed frame RETAINS the exprIds it
    # inherited from `batch`, and with the lineage severed the later
    # batch-side joins would see the same id on two unrelated plans
    # ("key not found" in the optimizer); an expression alias mints new ids
    id_type = dict(batch.dtypes)[id_col]
    dominated_by_index = dominated_by_index.select(
        F.col(id_col).cast(id_type).alias(id_col)
    )
    alive = batch.join(dominated_by_index, id_col, "left_anti")
    # stage 2: the greedy fixpoint among surviving batch vectors — same
    # source-elimination loop as semantic_dedup, over the batch edge set
    a, b = alive.alias("a"), alive.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(
            _cosine(
                _dot(F.col("a.v"), F.col("b.v")), F.col("a.n"), F.col("b.n")
            )
            >= threshold
        )
        .select(F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining = alive.select(id_col).localCheckpoint(eager=True)
    killed_all = _greedy_source_elimination(
        edges, remaining, max_iter, "incremental", id_col
    )
    if killed_all is None:
        killed_all = batch.select(id_col).limit(0)
    dead = (
        dominated_by_index.unionByName(killed_all)
        .distinct()
        .withColumn("_dead", F.lit(True))
    )
    # checkpoint the verdicts (id+cell+bool — tiny) so the index-dominance
    # join runs ONCE however many times the caller consumes per_vec /
    # kept_rows (the stream writes, counts, and appends from these)
    per_vec = (
        batch.join(dead, id_col, "left")
        .select(id_col, "cell", F.col("_dead").isNull().alias("is_survivor"))
        .localCheckpoint(eager=True)
    )
    kept_rows = batch.join(
        per_vec.where(F.col("is_survivor")).select(id_col), id_col, "left_semi"
    ).select(id_col, "v", "n", "cell")
    return per_vec, kept_rows


def append_to_semantic_index(kept_rows: DataFrame, path: str) -> None:
    """Append a committed batch's surviving vectors to the index — ids must
    sort after every indexed id (the incremental precondition)."""
    (
        kept_rows.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


# telemetry for the greedy fixpoint: a production run whose chain depth
# creeps toward max_iter should be visible BEFORE it becomes a
# ConvergenceError on the next, slightly deeper corpus.  Module-level
# because the returned DataFrame is a plan, not a carrier for run metadata;
# the fixpoint itself runs eagerly (per-round localCheckpoint), so the
# stats are final by the time semantic_dedup returns.
_LAST_SEMANTIC_DEDUP_STATS: dict | None = None


def last_semantic_dedup_stats() -> dict | None:
    """Stats of the most recent :func:`semantic_dedup` call in this
    process: ``{'mode', 'rounds_executed', 'max_iter', 'converged',
    'headroom'}`` where ``headroom = 1 - rounds_executed / max_iter``
    (monitor it: near 0.0 means the next deeper dominance chain raises
    ``ConvergenceError``).  ``None`` before any call.  ``rounds_executed``
    is the dominance-chain depth actually walked — 0 for
    ``mode='dominance'`` (single pass, no fixpoint)."""
    return _LAST_SEMANTIC_DEDUP_STATS


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: str = "first",
    mode: str = "greedy",
    max_iter: int = 50,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: quantize the embedding space
    into ``n_cells`` cells, then within each cell run the greedy keep-scan
    in id order — a vector survives iff it has no SURVIVING smaller-id
    neighbor at cosine ≥ ``threshold`` (first-seen wins).

    Output: ``(id_col, cell, is_survivor)`` for every input vector.

    ``mode`` selects the dedup rule:

    - ``'greedy'`` (default): survivor-restricted dominance, the exact
      relational form of the sequential keep-scan.  On a chain a–b–c
      (cos(a,b) ≥ t, cos(b,c) ≥ t, cos(a,c) < t) it keeps {a, c}: b is
      dropped by a, so b cannot drop c.  Computed as a source-elimination
      fixpoint over the cell-local dominance edges: each round confirms
      the remaining vectors with no remaining in-neighbor (the DAG's
      sources — guaranteed nonempty, so the loop strictly shrinks), kills
      everything a newly confirmed survivor dominates, and repeats.
      Rounds = O(longest dominance chain), each round a handful of
      edge-set-sized joins (the cell-local edge set is materialized ONCE;
      the corpus is never re-scanned).  ``max_iter`` bounds the loop like
      ``connected_components`` (raises ``ConvergenceError`` beyond it).
    - ``'dominance'``: single-pass neighbor-dominance — drop every vector
      with ANY smaller-id neighbor at cosine ≥ threshold, including
      neighbors that were themselves dropped.  OVER-deletes on chains
      (keeps {a} only in the example above); conservative for dedup, and
      one shuffle cheaper when chains are rare.

    The cluster-then-dedup decomposition is what makes semantic dedup
    feasible at corpus scale: the cosine self-join runs CELL-LOCALLY (one
    shuffle on the cell key, candidate volume bounded by cell size), never
    all-pairs — at the cost of missing near-dup pairs the quantizer splits
    across cells, the documented SemDeDup trade-off.  ``train`` as in
    :func:`ann_ivf_topk`: ``'first'`` is SQL-expressible (the oracle twin),
    ``'kmeans'`` the balanced production quantizer.
    """
    if mode not in ("greedy", "dominance"):
        raise ValueError(f"mode must be 'greedy' or 'dominance', got {mode!r}")
    if centroids is None:
        # precomputed centroids (build_semantic_index passes its own) skip
        # a duplicate trainer pass — count + gated scan + collect + Lloyd
        if train == "kmeans":
            centroids = train_ivf_centroids(
                df, n_cells, id_col=id_col, vec_col=vec_col
            )
        else:
            centroids = [
                [float(x) for x in r[vec_col]]
                for r in df.orderBy(id_col).limit(n_cells).collect()
            ]
    vd = F.col(vec_col).cast("array<double>")
    assigned = df.select(
        F.col(id_col),
        vd.alias("v"),
        _norm(vd).alias("n"),
        ivf_assign(F.col(vec_col), centroids).alias("cell"),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(
            _cosine(
                _dot(F.col("a.v"), F.col("b.v")), F.col("a.n"), F.col("b.n")
            )
            >= threshold
        )
        .select(
            F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst")
        )
        .distinct()
    )
    global _LAST_SEMANTIC_DEDUP_STATS
    cells = assigned.select(id_col, "cell")
    if mode == "dominance":
        _LAST_SEMANTIC_DEDUP_STATS = {
            "mode": "dominance",
            "rounds_executed": 0,
            "max_iter": max_iter,
            "converged": True,
            "headroom": 1.0,
        }
        dominated = edges.select(F.col("dst").alias(id_col)).distinct().withColumn(
            "_dominated", F.lit(True)
        )
        return cells.join(dominated, id_col, "left").select(
            id_col, "cell", F.col("_dominated").isNull().alias("is_survivor")
        )

    # greedy: source-elimination fixpoint over the (materialized) edge DAG.
    # Invariant: every vertex ends either CONFIRMED (it became a source —
    # no in-edge among the then-remaining) or KILLED (dominated by a
    # confirmed source), so survivors = all ∖ ∪killed and the loop only
    # tracks the remaining frontier + per-round kill sets.  Per round:
    # vertices still dominated stay (semi-join on the in-edge set), kills
    # are the dsts of source-rooted edges.  localCheckpoint truncates the
    # per-round lineage so round k's plan does not replay rounds 1..k-1
    # (the connected_components guard); checkpointed frames are id-only —
    # tiny at any scale, and each round costs ONE eager job (the frontier
    # checkpoint) plus a first-nonempty-partition isEmpty probe.
    # no per-round distinct(): has_in/killed feed only semi/anti joins and
    # a final distinct, where duplicate rows are harmless — each dropped
    # distinct was a per-round shuffle.  Only `remaining` materializes per
    # round (ONE eager job + a first-nonempty-partition isEmpty probe);
    # active/has_in/killed recompute lazily from checkpointed inputs, a
    # two-join chain that is cheaper than eagerly persisting it.
    edges = edges.localCheckpoint(eager=True)
    remaining = cells.select(id_col).localCheckpoint(eager=True)
    killed_all = _greedy_source_elimination(
        edges, remaining, max_iter, "greedy", id_col
    )
    if killed_all is None:
        killed_all = cells.select(id_col).limit(0)
    killed_all = killed_all.distinct().withColumn("_killed", F.lit(True))
    return cells.join(killed_all, id_col, "left").select(
        id_col, "cell", F.col("_killed").isNull().alias("is_survivor")
    )


def topk_recall(
    reference: DataFrame,
    candidate: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact one
    — the evaluation harness every ANN deployment runs before trusting an
    index (recall@k is THE accept metric in Jégou et al. and every ANN
    benchmark).  ``reference`` is the exact top-k frame (brute force),
    ``candidate`` the approximate one (LSH / IVF / IVF-PQ); both are
    (query, neighbor) ranked frames as produced by the ``*_topk`` operators.

    Emits one row per query: reference size, hit count, recall rounded to 4
    decimals.  Queries whose candidate set is empty (all probes pruned)
    still appear, with recall 0 — silent omission would overstate quality.

    Shape at scale: both inputs are k·|queries| rows — vanishingly small
    next to the corpus that produced them — so the (query, neighbor) equi-
    join broadcasts under AQE and the groupBy is one tiny shuffle.  The
    expensive part is the two top-k scans upstream; this operator adds no
    corpus pass.
    """
    ref = reference.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
    )
    cand = candidate.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.lit(1).alias("_hit"),
    ).distinct()
    return (
        ref.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ref"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_ref",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_ref"), 4).alias("recall"),
        )
    )
