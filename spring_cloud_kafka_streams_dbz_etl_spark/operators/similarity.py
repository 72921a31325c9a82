"""Similarity-search operators: brute-force cosine top-k + IVF-style
cell-restricted search.

Scale design:
- Brute force: queries are tiny (a handful of probe vectors) -> broadcast
  them against the corpus; scoring is a map-only stage (no shuffle), then
  one small per-query top-k window.
- IVF: restrict scoring to the query's cell (here the `label` column is
  the cell assignment — the inverted-file structure the schema provides).
  The cell equi-join prunes the corpus scan to 1/n_cells of the data; at
  100 TB this is the difference between scanning everything and scanning
  one partition (cells map to parquet partitions).
- The optional Pandas-UDF path (`pandas_topk_scores`) batches vectors
  through Arrow into numpy for BLAS scoring — the practical choice for
  wide vectors / many queries; kept off the oracle surface.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, cosine_pre, l2_norm, safe_div, to_double


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    cell_col: str | None = None,
) -> DataFrame:
    """Cosine top-k of corpus per query vector.

    queries/corpus share (id_col, vec_col[, cell_col]). Self-matches are
    excluded. With ``cell_col`` the search is IVF-style cell-restricted.
    Deterministic ranking: (rounded score desc, neighbor id asc).
    """
    # Norms are computed ONCE per vector below the join (cosine_pre):
    # with Q broadcast probes each corpus row otherwise re-folds its own
    # norm Q times and every probe norm is re-folded per corpus row —
    # 3 interpreted HOF folds per pair where 1 (the dot) suffices.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("__qv"),
        *([F.col(cell_col).alias("__qc")] if cell_col else []),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double(F.col(vec_col)).alias("__cv"),
        *([F.col(cell_col).alias("__cc")] if cell_col else []),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    # Queries are the tiny side -> broadcast them; scoring is map-only.
    joined = (
        F.broadcast(q).join(c, F.col("__qc") == F.col("__cc"))
        if cell_col
        else F.broadcast(q).crossJoin(c)
    )
    scored = joined.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_pre(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def lsh_bits_for(n_vectors: int, target_bucket: int = 1024) -> int:
    """Bits per LSH band so the EXPECTED bucket occupancy n/2^bits stays at
    or below ``target_bucket``. Within-bucket verification work is
    Σ|bucket|² ≈ n·E|bucket| per band, so holding E|bucket| constant keeps
    candidate generation LINEAR in corpus size as it grows: 1e6 vectors →
    10 bits, 1e9 → 20 bits. Floor of 8 matches the smallest useful band.

    Integer-exact (r13): the smallest b >= 8 with 2^b · target >= n —
    equivalent to the old ceil(log2(n/target)) everywhere EXCEPT the
    exact boundaries n = target·2^k + tiny, where correctly-rounded
    float log2 loses the +1 and under-sizes by one bit (found by the
    q_knob_plan equivalence fuzz; q_knob_plan's oracle states the same
    definition as a SQL bit-shift scan, so the knob now has no libm
    surface at all). Pinned in test_lsh_bits_integer_equivalence."""
    need = -(-int(n_vectors) // max(1, int(target_bucket)))  # ceil div
    return max(8, (max(1, need) - 1).bit_length())


def hyperplane_lsh_pairs(
    df: DataFrame,
    signs: list[list[int]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    int_scale: int = 1_000_000,
    persist=None,
) -> DataFrame:
    """Banded random-hyperplane LSH candidate pairs with exact cosine.

    ``signs`` is a (bands*bits_per_band) × dim matrix of ±1 hyperplanes.
    Each vector gets ``bands`` (band_idx, band_hash) keys — band b's hash
    packs the sign bits of its planes — and candidates are pairs sharing
    AT LEAST ONE band (multi-probe, the embedding-space dual of the
    MinHash band join). Exact cosine (rounded to 6) is computed only
    within candidate buckets and thresholded.

    Operating regime: P(candidate) = 1-(1-p^bits)^bands with p = 1-θ/π.
    With 8-bit bands that S-curve passes ~50% at cos ≈ 0.9 (2 bands) —
    this is a NEAR-DUPLICATE detector. For moderate thresholds
    (cos ~0.3-0.7) recall at few bands is a few percent by design; use
    the exact cell-blocked search (q_embedding_cosine_dup) or raise
    ``bands`` (recall 1-(1-p^bits)^B, candidate cost linear in B). The
    S-curve is empirically pinned by
    ``test_lsh_pairs_sound_and_recall_matches_s_curve``.

    Determinism: sign projections accumulate floor(x·int_scale) BIGINTs
    (exact IEEE ops, no libm) so the bucket decision — the part a 1-ulp
    divergence would flip — is bit-identical across engines/hardware; the
    within-bucket cosine uses the same integer vectors with IEEE sqrt,
    rounded before the threshold.

    Scale: bucketing is map-only (posexplode fans each id into ``bands``
    rows); the self equi-join shuffles band keys + int vectors. Work per
    band is Σ|bucket|² — pick bits_per_band via ``lsh_bits_for`` so
    E|bucket| stays constant as the corpus grows; pathological buckets
    (mass at one signature) are split by AQE skew handling.

    ``persist`` (optional callable) caches the bucketed relation consumed
    by both sides of the self-join.
    """
    planes = len(signs)
    if planes % bands:
        raise ValueError(f"planes={planes} not divisible by bands={bands}")
    bits = planes // bands

    iv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * float(int_scale)).cast("long")
    )
    with_iv = df.select(F.col(id_col).alias("__id"), iv.alias("iv"))

    def plane_dot(p: int) -> F.Column:
        sign_arr = F.array(*[F.lit(s) for s in signs[p]])
        return F.aggregate(
            F.zip_with(sign_arr, F.col("iv"), lambda s, x: s * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def band_hash(b: int) -> F.Column:
        return sum(
            (
                F.when(plane_dot(b * bits + j) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(bits)
            ),
            start=F.lit(0),
        ).cast("int")

    bk = with_iv.select(
        "__id",
        "iv",
        F.posexplode(F.array(*[band_hash(b) for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    if persist is not None:
        bk = persist(bk)
    a = bk.select(
        F.col("__id").alias("vec_a"), "band_idx", "band_hash", F.col("iv").alias("iv_a")
    )
    b = bk.select(
        F.col("__id").alias("vec_b"), "band_idx", "band_hash", F.col("iv").alias("iv_b")
    )

    def pair_dot(u: str, v: str) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col(u), F.col(v), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # safe_div: a zero-norm vector must NULL the cosine (DuckDB's x/0.0)
    # instead of aborting the job under ANSI — see functions/vector.py
    cos = F.round(
        safe_div(
            pair_dot("iv_a", "iv_b").cast("double"),
            F.sqrt(pair_dot("iv_a", "iv_a")) * F.sqrt(pair_dot("iv_b", "iv_b")),
        ),
        6,
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        # a pair sharing >1 band appears once per shared band; cosine is
        # deterministic, so a distinct on the projected row dedups exactly
        .distinct()
    )


# -- product quantization ---------------------------------------------------
PQ_SUBSPACES = 8
PQ_K = 16
PQ_DIM = 64


def pq_codebook(m: int, k: int, sub_dim: int) -> list[float]:
    """Deterministic md5-derived centroid (subspace m, code k): components
    in [-0.5, 0.5) — the embedding corpus' range — so codebooks are
    identical across engines/runs and inlineable into oracle SQL."""
    import hashlib

    return [
        (int(hashlib.md5(f"pq:{m}:{k}:{d}".encode()).hexdigest()[:8], 16) % 1_000_001)
        / 1_000_000.0
        - 0.5
        for d in range(sub_dim)
    ]


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subspaces: int = PQ_SUBSPACES,
    k: int = PQ_K,
    dim: int = PQ_DIM,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantize vectors as an Arrow mapInPandas pass: split into
    ``subspaces`` sub-vectors, assign each to its nearest of ``k`` fixed
    centroids (squared L2 accumulated in an ascending-dimension LEFT
    fold — explicit sequential adds, bit-identical to the HOF form and
    the SQL oracle; ties break to the smaller code via argmin-first).
    Returns (id, *keep_cols, pq_codes 'c0,c1,...', recon_err) exactly
    like :func:`pq_encode_expr`, whose JVM HOF plan it replaced on
    measurement: the vectorized (batch × k) fold runs the same 40k-row
    encode in 0.44 s warm vs 1.22 s (tools/measure_adc.py session,
    value-identical on every row). The codebook tensor broadcasts once;
    rounding stays JVM-side (F.round HALF_UP, matching the oracle).

    Scale: still a pure map over the scan — the Python boundary is one
    Arrow batch stream, the standard 10-30x memory cut unchanged.
    """
    import numpy as np

    sub = dim // subspaces
    cb = np.zeros((subspaces, k, sub))
    for m in range(subspaces):
        for kk in range(k):
            cb[m, kk] = pq_codebook(m, kk, sub)
    spark = df.sparkSession
    b_cb = spark.sparkContext.broadcast(cb)
    in_cols = [id_col, *keep_cols, vec_col]
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )

    def enc(batches):
        import pandas as pd

        C = b_cb.value
        n_sub, n_codes, sd = C.shape
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            codes = np.zeros((len(v), n_sub), dtype=np.int64)
            err = np.zeros(len(v))
            for m in range(n_sub):
                seg = v[:, m * sd : (m + 1) * sd]
                # ascending-d LEFT fold, vectorized over (batch, k)
                acc = np.zeros((len(v), n_codes))
                for d in range(sd):
                    diff = seg[:, d : d + 1] - C[m][None, :, d]
                    acc = acc + diff * diff
                codes[:, m] = np.argmin(acc, axis=1)  # first min = smallest code
                err = err + acc[np.arange(len(v)), codes[:, m]]
            out = {id_col: pdf[id_col].to_numpy()}
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            out["pq_codes"] = [",".join(map(str, r)) for r in codes]
            out["__err"] = err
            yield pd.DataFrame(out)

    return (
        df.select(*in_cols)
        .mapInPandas(
            enc,
            f"{id_col} long{keep_schema}, pq_codes string, __err double",
        )
        .select(
            id_col,
            *keep_cols,
            "pq_codes",
            F.round(F.col("__err"), 6).alias("recon_err"),
        )
    )


def pq_encode_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subspaces: int = PQ_SUBSPACES,
    k: int = PQ_K,
    dim: int = PQ_DIM,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """JVM-expression PQ encode (the pre-r6 registered form): split into
    ``subspaces`` sub-vectors,
    assign each to its nearest of ``k`` fixed centroids (squared L2,
    summed in ascending-dimension order so the doubles are bit-identical
    across engines; ties break on the smaller code). Returns
    (id, pq_codes string 'c0,c1,...', recon_err double) — codes compress
    dim×4 bytes to ``subspaces`` nibbles (32x for 64-d float32 at 8×16),
    recon_err is the summed squared distance to the chosen centroids.

    Production PQ trains codebooks with k-means; the codebooks here are
    fixed md5-derived grids so the OPERATOR (split/assign/argmin plan
    shape, zero Python, zero shuffle) is exact and oracle-checkable —
    swap `pq_codebook` for trained centroids at deployment.

    Scale: pure map over the scan; at 100 TB this is the standard 10-30x
    memory cut that makes billion-vector ANN fit a cluster's RAM.

    Plan shape (r5 rewrite): the codebook is ONE literal nested array and
    the subspace/code/dim loops are higher-order functions (transform /
    aggregate / array_position), not an unrolled subspaces*k*sub_dim
    expression tree. The r4 unrolled form built 128 struct candidates +
    1024 arithmetic nodes — a ~2.6 MiB task binary whose per-row
    interpretation dominated the encode (measured 4.1 s for 5k rows at
    sf0.1); the HOF form is bit-identical and runs the same data in
    1.1 s warm with a kilobyte-scale plan. (SCALE.md anti-pattern #2 —
    don't move EXPENSIVE exprs like md5 into HOF lambdas — doesn't apply:
    these lambdas are pure float arithmetic, and the win is collapsing
    the giant tree.) Determinism is unchanged: inner sum runs ascending-d
    via aggregate's left fold, argmin ties break to the smallest code
    because array_position returns the FIRST index of the minimum.
    """
    sub_dim = dim // subspaces
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cb_lit = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(x) for x in pq_codebook(m, kk, sub_dim)])
                    for kk in range(k)
                ]
            )
            for m in range(subspaces)
        ]
    )
    # dd[m][kk] = Σ_d (v[m*sub+d] - CB[m][kk][d])², ascending d
    dd = F.transform(
        cb_lit,
        lambda cbm, m: F.transform(
            cbm,
            lambda c: F.aggregate(
                F.sequence(F.lit(1), F.lit(sub_dim)),
                F.lit(0.0),
                lambda acc, d: acc
                + (F.element_at(v, m * sub_dim + d) - F.element_at(c, d))
                * (F.element_at(v, m * sub_dim + d) - F.element_at(c, d)),
            ),
        ),
    )
    codes = F.transform(dd, lambda d: F.array_position(d, F.array_min(d)).cast("int") - 1)
    err = F.aggregate(
        F.transform(dd, lambda d: F.array_min(d)), F.lit(0.0), lambda a, x: a + x
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.concat_ws(",", F.transform(codes, lambda c: c.cast("string"))).alias(
            "pq_codes"
        ),
        F.round(err, 6).alias("recon_err"),
    )


def pq_adc_topk_expr(
    queries_pd,
    codes: DataFrame,
    k: int = 10,
    subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_K,
    dim: int = PQ_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """JVM-expression ADC variant: per query, precompute the
    (subspace × code) -> partial-squared-distance lookup table
    driver-side (subspaces·n_codes doubles — trivially small), inline it
    as literal arrays, and score every coded vector with
    Σ_m lut[m][code_m] — a pure map over the CODES table. The corpus
    lives as ``subspaces``-byte codes (32x smaller), scans never touch
    raw vectors, and distance evaluation is ``subspaces`` array lookups.

    NOT the registered scorer since r6: the per-probe literal-array tree
    grows with probes × n_codes and is interpreted per code row, and
    the struct explode multiplies rows n_probes× BEFORE the filter —
    measured 2.5-3.2× slower than the Arrow gather in
    :func:`pq_adc_topk` (tools/measure_adc.py), with the gap widening
    in probe count. Kept as the zero-Python reference implementation
    and the measurement baseline; results are bit-identical.

    ``queries_pd``: pandas DataFrame with (id_col, vec_col) probe rows.
    ``codes``: output of :func:`pq_encode` (same ``id_col``). All queries
    score in ONE pass over the codes table (an array of per-query
    (query_id, dist) structs, exploded) — the corpus scan and the code
    parse never repeat per query. Ranking is deterministic (adc_dist
    asc, neighbor id asc). Approximation quality is the codebooks' —
    with trained k-means books this is production PQ-ADC.

    ``cell_col`` (optional) fuses IVF pruning into the scan: both
    ``queries_pd`` and ``codes`` must carry it, and each probe scores
    only code rows in ITS cell — at scale the cell predicate partition-
    prunes the codes scan to nprobe/n_cells of the corpus, and the codes
    are 32x smaller than raw vectors: the two multiplicative wins of the
    standard IVF-PQ (FAISS IVFADC) layout.
    """
    sub = dim // subspaces
    # Parse the code string ONCE per row into an int array (projection
    # below); referencing the split expression per (probe x subspace)
    # would re-split the string up to n_probes*subspaces times per row —
    # measured 1.6x on the ADC scan (tools/measure_ann.py).
    parts = F.col("__codes")

    def dist_for(qv: list[float]) -> F.Column:
        dist = None
        for m in range(subspaces):
            seg = qv[m * sub : (m + 1) * sub]
            lut = [
                # explicit multiply (not **2): bit-identical to the SQL
                # oracle's (a-b)*(a-b) on every libm
                sum((seg[d] - c[d]) * (seg[d] - c[d]) for d in range(sub))
                for c in (pq_codebook(m, kk, sub) for kk in range(n_codes))
            ]
            lut_arr = F.array(*[F.lit(x) for x in lut])
            term = F.element_at(lut_arr, F.element_at(parts, m + 1).cast("int") + 1)
            dist = term if dist is None else dist + term
        return F.round(dist, 9)

    entries = [
        F.struct(
            F.lit(int(q[id_col])).alias("query_id"),
            dist_for([float(x) for x in q[vec_col]]).alias("adc_dist"),
            *(
                # .item() unwraps numpy scalars from the pandas probe frame
                [
                    F.lit(
                        q[cell_col].item()
                        if hasattr(q[cell_col], "item")
                        else q[cell_col]
                    ).alias("query_cell")
                ]
                if cell_col is not None
                else []
            ),
        )
        for _, q in queries_pd.iterrows()
    ]
    if not entries:
        return codes.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc_dist double, rank int"
        )
    parsed = codes.select(
        F.col(id_col),
        *([F.col(cell_col)] if cell_col is not None else []),
        F.transform(F.split(F.col("pq_codes"), ","), lambda x: x.cast("int")).alias(
            "__codes"
        ),
    )
    scored = parsed.select(
        F.col(id_col).alias("neighbor_id"),
        *([F.col(cell_col)] if cell_col is not None else []),
        F.explode(F.array(*entries)).alias("__q"),
    )
    if cell_col is not None:
        # IVF restriction: keep only (probe, code) pairs in the same cell.
        # The filter sits directly above the scan, so with cell-partitioned
        # code files it collapses to partition pruning.
        scored = scored.filter(F.col("__q.query_cell") == F.col(cell_col))
    scored = scored.select("__q.query_id", "neighbor_id", "__q.adc_dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pq_adc_topk(
    queries_pd,
    codes: DataFrame,
    k: int = 10,
    subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_K,
    dim: int = PQ_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes — the billion-scale ANN
    serving path: the corpus lives as ``subspaces``-byte codes (32x
    smaller), scans never touch raw vectors, and every probe scores in
    ONE pass over the codes relation.

    Scoring runs as an Arrow ``mapInPandas`` gather: the
    (probes × subspaces × n_codes) LUT tensor — a few KiB of doubles,
    built driver-side exactly as before — broadcasts to executors, and
    each Arrow batch evaluates Σ_m lut[m][code_m] as ``subspaces``
    vectorized numpy gathers. Chosen over the inlined-literal JVM
    expression tree (:func:`pq_adc_topk_expr`) on measurement, not
    aesthetics: the literal tree is interpreted per code row and its
    struct explode multiplies rows n_probes× before filtering — the
    Arrow path is 2.5× faster at 16 probes and 3.2× at 48
    (tools/measure_adc.py), the gap widening with probe count.

    Bit-identical to the expression form: the LUT doubles come from the
    SAME Python builder, the Σ_m fold is the same ascending-m left
    fold (explicit sequential adds — numpy pairwise summation would
    reorder it), and the final ROUND(9) + rank window stay in the JVM,
    so the oracle contract is untouched.

    ``cell_col`` (optional) fuses IVF pruning: the codes scan
    pre-filters to the probes' cell set JVM-side (partition pruning on
    cell-partitioned code files), and each probe scores only rows of
    ITS cell via a numpy mask inside the batch.
    """
    import numpy as np

    sub = dim // subspaces
    if not len(queries_pd):
        return codes.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc_dist double, rank int"
        )
    luts = np.zeros((len(queries_pd), subspaces, n_codes))
    qids: list[int] = []
    qcells: list = []
    for qi, (_, q) in enumerate(queries_pd.iterrows()):
        qv = [float(x) for x in q[vec_col]]
        qids.append(int(q[id_col]))
        if cell_col is not None:
            cell = q[cell_col]
            qcells.append(cell.item() if hasattr(cell, "item") else cell)
        for m in range(subspaces):
            seg = qv[m * sub : (m + 1) * sub]
            for kk in range(n_codes):
                c = pq_codebook(m, kk, sub)
                # explicit multiply (not **2): bit-identical to the SQL
                # oracle's (a-b)*(a-b) on every libm
                luts[qi, m, kk] = sum(
                    (seg[d] - c[d]) * (seg[d] - c[d]) for d in range(sub)
                )
    return _adc_rank(codes, luts, qids, qcells, cell_col, k, id_col)


def _adc_rank(
    codes: DataFrame,
    luts,
    qids: list[int],
    qcells: list,
    cell_col: str | None,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """The shared ADC scoring tail — LUT-gather scan + JVM ROUND(9) +
    per-probe rank window — behind both the lattice-codebook
    (:func:`pq_adc_topk`) and trained-codebook
    (:func:`pq_adc_topk_cb`) servers; only the LUT BUILD differs
    between them, so the scan arithmetic cannot drift. ``luts`` is the
    (probes × subspaces × n_codes) tensor; ascending-m LEFT fold per
    batch, argmin ties to the smaller neighbor id in the window."""
    import numpy as np

    spark = codes.sparkSession
    if cell_col is not None:
        # partition-pruning half of IVF-PQ: only the probed cells scan
        codes = codes.filter(F.col(cell_col).isin(*set(qcells)))
    b_lut = spark.sparkContext.broadcast(luts)
    b_qid = spark.sparkContext.broadcast(np.array(qids))
    b_cell = spark.sparkContext.broadcast(
        np.array(qcells) if cell_col is not None else None
    )

    def score(batches):
        import pandas as pd

        lut, qid, qcell = b_lut.value, b_qid.value, b_cell.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes_m = np.array(
                [[int(c) for c in s.split(",")] for s in pdf["pq_codes"]],
                dtype=np.int64,
            )
            nid = pdf[id_col].to_numpy()
            ncell = pdf[cell_col].to_numpy() if qcell is not None else None
            for qi in range(lut.shape[0]):
                if qcell is not None:
                    mask = ncell == qcell[qi]
                    if not mask.any():
                        continue
                    cm, ni = codes_m[mask], nid[mask]
                else:
                    cm, ni = codes_m, nid
                # ascending-m LEFT fold, matching the expression form
                acc = lut[qi][0][cm[:, 0]]
                for m in range(1, lut.shape[1]):
                    acc = acc + lut[qi][m][cm[:, m]]
                yield pd.DataFrame(
                    {"query_id": qid[qi], "neighbor_id": ni, "adc_dist": acc}
                )

    scored = codes.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    ).select(
        "query_id",
        "neighbor_id",
        # rounding stays in the JVM: same F.round HALF_UP as the
        # expression form and the DuckDB oracle's ROUND
        F.round(F.col("adc_dist"), 9).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pandas_topk_scores(
    queries_pd, corpus: DataFrame, vec_col: str = "embedding", k: int = 10
) -> DataFrame:
    """Arrow/numpy BLAS scoring path: queries broadcast as a numpy matrix,
    corpus streamed through mapInPandas in Arrow batches. Preferred for
    wide vectors or >100 queries; not oracle-checked (fp order differs).
    """
    import numpy as np

    qm = np.asarray(list(queries_pd[vec_col]), dtype="float64")
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    qids = list(queries_pd["vec_id"])
    spark = corpus.sparkSession
    bqn = spark.sparkContext.broadcast(qn)
    bqids = spark.sparkContext.broadcast(qids)

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            cm = np.asarray(list(pdf[vec_col]), dtype="float64")
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cn @ bqn.value.T  # (batch, n_queries)
            out = []
            for qi, qid in enumerate(bqids.value):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": pdf["vec_id"].to_numpy(),
                            "cos_sim": sims[:, qi],
                        }
                    )
                )
            yield pd.concat(out)

    scored = corpus.mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# -- distributed k-means (IVF cell training) --------------------------------

KMEANS_K_MIN = 8  # smallest useful coarse quantizer (and the tiny-corpus floor)
KMEANS_ITERS = 2
IVF_TARGET_CELL = 32  # minimum average cell occupancy a training run should see


def ivf_cells_for(n_vectors: int, target_cell: int = IVF_TARGET_CELL) -> int:
    """Cell count for the IVF coarse quantizer, by corpus size — the
    `lsh_bits_for` / `simhash_width_for` sizing rule the ANN stack was
    missing (VERDICT r10 #1: a fixed k=8 caps cell pruning at
    nprobe/8 forever and was the measured sf0.1 recall ceiling).

    k = ceil(4·√n), the middle of the √n..16·√n band FAISS documents
    for IVF training, clamped below by ``KMEANS_K_MIN`` and above by
    n // target_cell so tiny corpora keep trainable occupancy (≥
    ``target_cell`` vectors per cell on average — Lloyd with near-empty
    cells just freezes seeds). Values: 500 → 15, 2k → 62, 1e6 → 4000,
    1e9 → 126,491 — at scale the ADC scan reads nprobe/k of the
    cell-partitioned code files, so pruning IMPROVES as the corpus
    grows instead of capping at nprobe/8.

    Must stay bit-identical to the oracle's knobs CTE
    (queries/similarity._kmeans_cte_chain): GREATEST/LEAST over exact
    integer ops and one IEEE sqrt — no float drift surface."""
    import math

    return max(
        KMEANS_K_MIN,
        min(math.ceil(4 * math.sqrt(n_vectors)), n_vectors // max(1, target_cell)),
    )


# Deterministic seed-spreading hash (VERDICT r10 #2): first-k-by-id
# seeding put adjacent-id — and in id-correlated corpora, near-identical
# — vectors into adjacent seed slots, producing the skewed occupancy
# q_embedding_drift exists to detect. Ordering candidates by a Knuth
# multiplicative hash of the id decorrelates seed choice from id
# locality while staying RNG-free and oracle-expressible. The low 20
# bits enter first so the product (2^20 * 2654435761 < 2^52) can never
# overflow a BIGINT in EITHER engine — Spark longs wrap silently on
# overflow while DuckDB throws, so the safe range is a cross-engine
# determinism requirement, not a style choice. Collisions (ids equal
# mod 2^20) tie-break on the raw id.
SEED_HASH_MASK = 1_048_576  # 2^20
SEED_HASH_MULT = 2_654_435_761  # Knuth's 2^32 / phi
SEED_HASH_MOD = 4_294_967_296  # 2^32


def _seed_hash(id_col: F.Column) -> F.Column:
    return (id_col % F.lit(SEED_HASH_MASK)) * F.lit(SEED_HASH_MULT) % F.lit(
        SEED_HASH_MOD
    )


def nprobe_for(n_cells: int) -> int:
    """Serving-time probe width for a k-cell IVF index: 2·ceil(√k),
    floored at 4. Sublinear in k by design — as `ivf_cells_for` grows
    the cell count with the corpus, the scanned FRACTION nprobe/k =
    2/√k keeps shrinking (k=15 → 8 of 15, k=62 → 16 of 62 ≈ 26%,
    k=4000 → 128 ≈ 3.2%, k=126k → 712 of 126k ≈ 0.56%), which is the
    whole point of scaling k.

    The 2× over the r11 ceil(√k) policy is the VERDICT r11 ask #3
    coverage bump, priced by q_ann_nprobe_curve before adoption: the
    honest (leak-free-seeded) stack was candidate-coverage-bound at
    0.4875 recall@10 (sf0.1, nprobe=8 of 62), and the curve showed
    coverage still rising 0.40→0.4875 over 4→8 — doubling the width
    buys the next coverage step (measured 0.675 at nprobe=16, SCALE.md)
    while quantization improvements (residual PQ / OPQ) would buy ZERO
    until coverage rises, because the exact refine already converts all
    delivered coverage into recall. Recall at this width is what the
    audit family (q_ann_pq_recall_trained*) measures and pins; raise
    per-query when an SLA needs the ceiling lifted further
    (q_ann_nprobe_curve is the planning table).
    Twin of the oracle knobs CTE's ``np`` column."""
    import math

    return max(4, 2 * math.ceil(math.sqrt(n_cells)))


def _argmin_cells(IV, C: list[list[float]], dim: int, int_scale: int):
    """Shared numpy argmin-assignment kernel over an integer-vector batch:
    X = iv/int_scale (one exact long->double division per component),
    squared L2 accumulated as an ascending-d LEFT fold (acc = acc + t*t,
    never numpy pairwise summation), np.argmin's first-index = the
    smaller-cell tie-break. Every Arrow assignment path —
    :func:`kmeans_cells` / :func:`kmeans_fit` training rounds AND
    :func:`ivf_assign` serving-time routing, all via
    :func:`_assign_arrow` — calls THIS kernel, so training and serving
    arithmetic can never drift: the property the trained-index recall
    audit (q_ann_pq_recall_trained) depends on. Returns
    (cells int array, dist-to-chosen double array)."""
    import numpy as np

    dists = _cell_dists(IV, C, dim, int_scale)
    n = len(dists)
    cells = np.argmin(dists, axis=1)
    return cells, dists[np.arange(n), cells]


def _cell_dists(IV, C: list[list[float]], dim: int, int_scale: int):
    """The (n_vectors × n_cells) squared-L2 matrix behind BOTH cell
    decisions — :func:`_argmin_cells`' argmin assignment and
    :func:`ivf_probe`'s top-nprobe routing — so single-probe and
    multi-probe serving rank cells with bit-identical distances.
    X = iv/int_scale exact divisions, ascending-d LEFT fold.

    The loop runs over DIMENSIONS only (one (n × k) rank-1 update per
    d), not over (cell, d): since `ivf_cells_for` scales k with the
    corpus, a per-cell loop would pay k×dim numpy dispatches per batch
    (~4k at sf0.1's k=62) where this shape pays dim regardless of k.
    Bit-compatibility is unchanged — each (vector, cell) element still
    accumulates (x_d − c_d)² in ascending-d order, the same IEEE adds
    in the same sequence as the per-cell form (pinned against the JVM
    expression tree in test_kmeans_assign_arrow_equals_expr); never
    rewrite this as the BLAS ‖x‖² + ‖c‖² − 2x·c expansion, which
    changes the summation order and breaks cross-engine ties."""
    import numpy as np

    X = IV / float(int_scale)
    n = len(X)
    CM = np.asarray(C, dtype=np.float64)  # (k, dim)
    acc = np.zeros((n, len(C)))
    t = np.empty_like(acc)
    for d in range(dim):
        # in-place forms of (x_d − c_d)² accumulation: identical IEEE
        # ops on identical operands in identical order, no (n × k)
        # temporaries — at 32k vectors × 716 cells the out-of-place
        # form allocated ~11 GB/pass of short-lived arrays and was
        # memory-bandwidth-bound
        np.subtract(X[:, d, None], CM[None, :, d], out=t)
        np.multiply(t, t, out=t)
        acc += t
    return acc


def _int_vectors(
    df: DataFrame, id_col: str, vec_col: str, int_scale: int
) -> DataFrame:
    """(__id, iv) projection shared by every k-means/IVF entry point:
    vectors enter the determinism boundary as floor(x*int_scale) BIGINTs
    (the LSH/PQ integerization policy), so all downstream arithmetic has
    exact integer operands."""
    iv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * float(int_scale)).cast("long"),
    )
    return df.select(F.col(id_col).alias("__id"), iv.alias("iv"))


def _assign_arrow(
    base: DataFrame, cents: list[list[float]], dim: int, int_scale: int
) -> DataFrame:
    """THE Arrow assignment path — the single mapInPandas wrapper around
    :func:`_argmin_cells` that kmeans training rounds, the final
    kmeans_cells assignment, and ivf_assign serving-time routing all
    share. Broadcasting happens via closure capture of the k×dim
    centroid list (a few KiB — task-serialized once per stage, same as
    an explicit sc.broadcast for this size). Bit-identical to
    ``assign_expr``'s JVM literal tree: X = iv/int_scale is the same
    long/double division, t*t adds accumulate in the same ascending-d
    order, np.argmin's first-index is array_min's smaller-cell
    tie-break; rounding stays with the JVM caller."""
    C = [list(map(float, c)) for c in cents]

    def go(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            IV = np.array([np.asarray(x, dtype=np.int64) for x in pdf["iv"]])
            cellv, distv = _argmin_cells(IV, C, dim, int_scale)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "iv": pdf["iv"],
                    "cell": cellv.astype("int32"),
                    "dist": distv,
                }
            )

    return base.mapInPandas(go, "__id long, iv array<long>, cell int, dist double")


def _lloyd_stats_arrow(
    base: DataFrame, cents: list[list[float]], dim: int, int_scale: int
) -> dict[int, tuple[int, list[int]]]:
    """One Lloyd round's sufficient statistics, FUSED into the assignment
    kernel (r17 optimization): the mapInPandas pass that argmin-routes each
    batch also folds that batch's per-cell integer sums/counts in NumPy, so
    what leaves Python is one ≤k-row partial per Arrow batch instead of the
    dim-exploded corpus (the old posexplode path shuffled 64 rows per
    vector into the hash aggregate every round). The tiny partials combine
    in one map-side-combinable groupBy(cell); integer addition is
    associative, so the global (sum, n) — and the centroid division — are
    bit-identical to the exploded form. Returns {cell: (n, [s_d])}."""
    C = [list(map(float, c)) for c in cents]

    def go(batches):
        import numpy as np
        import pandas as pd

        acc: dict[int, tuple[int, object]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            IV = np.array([np.asarray(x, dtype=np.int64) for x in pdf["iv"]])
            cellv, _ = _argmin_cells(IV, C, dim, int_scale)
            for c in np.unique(cellv):
                m = cellv == c
                n, s = int(m.sum()), IV[m].sum(axis=0)
                if int(c) in acc:
                    pn, ps = acc[int(c)]
                    acc[int(c)] = (pn + n, ps + s)
                else:
                    acc[int(c)] = (n, s)
        if acc:
            yield pd.DataFrame(
                {
                    "cell": list(acc.keys()),
                    "n": [v[0] for v in acc.values()],
                    "s": [v[1].tolist() for v in acc.values()],
                }
            )

    partials = base.mapInPandas(go, "cell int, n long, s array<long>")
    # Few-partition inputs (the usual case after catalog.fan_out_vectorized)
    # collect the ≤k-rows-per-partition partials straight to the driver and
    # reduce there — no exchange, no AQE stage job per round. Wide layouts
    # keep the map-side-combinable groupBy so driver traffic stays bounded
    # by k×dim, not partitions×k×dim. Both reduce the same integer sums in
    # a different (associative) order — centroids are bit-identical.
    if base.rdd.getNumPartitions() <= 64:
        out: dict[int, tuple[int, list[int]]] = {}
        for r in partials.collect():
            cell, n, s = int(r["cell"]), int(r["n"]), [int(x) for x in r["s"]]
            if cell in out:
                pn, ps = out[cell]
                out[cell] = (pn + n, [a + b for a, b in zip(ps, s)])
            else:
                out[cell] = (n, s)
        return out
    rows = (
        partials.groupBy("cell")
        .agg(
            F.sum("n").alias("n"),
            *[
                F.sum(F.element_at("s", d + 1)).alias(f"s{d}")
                for d in range(dim)
            ],
        )
        .collect()
    )
    return {
        int(r["cell"]): (int(r["n"]), [int(r[f"s{d}"]) for d in range(dim)])
        for r in rows
    }


def _lloyd_stats_exploded(
    assigned: DataFrame, dim: int
) -> dict[int, tuple[int, list[int]]]:
    """The original posexplode statistics path — retained for the
    zero-Python ``assign_expr`` reference implementation."""
    stats = (
        assigned.select("cell", F.posexplode("iv").alias("d", "x"))
        .groupBy("cell", "d")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_cell: dict[int, dict[int, tuple[int, int]]] = {}
    for r in stats:
        by_cell.setdefault(int(r.cell), {})[int(r.d)] = (int(r.s), int(r.n))
    return {
        cell: (ds[0][1], [ds[d][0] for d in range(dim)])
        for cell, ds in by_cell.items()
    }


def _lloyd_train(
    base: DataFrame,
    k: int,
    iters: int,
    dim: int,
    int_scale: int,
    assign_impl,
    stats_impl=None,
) -> list[list[float]]:
    """The shared Lloyd loop (MLlib shape): seeds are the k first rows
    in :func:`_seed_hash` order (deterministic k-means++-style spread —
    no RNG, hash-decorrelated from id locality, tie-break on id; cell c
    is the c-th seed in that order on BOTH engines); each round is one
    fused assignment+partial-sum pass (``stats_impl``, default the Arrow
    kernel :func:`_lloyd_stats_arrow`) whose only shuffle is the ≤k-row-
    per-Arrow-batch partials — bytes independent of corpus size — and a
    k×dim collect to rebuild the driver-side model. Empty cells keep
    their previous centroid. Returns the trained k×dim centroid list."""
    seeds = base.orderBy(_seed_hash(F.col("__id")), "__id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    # centroid c[cell][d] as exact double: sum_int / (n * int_scale)
    cents = [[float(r.iv[d]) / float(int_scale) for d in range(dim)] for r in seeds]
    if stats_impl is None:
        # generic fallback: run the caller's assignment and aggregate the
        # exploded statistics (the expr-reference path keeps this shape)
        stats_impl = lambda c: _lloyd_stats_exploded(assign_impl(c), dim)  # noqa: E731
    for _ in range(iters):
        by_cell = stats_impl(cents)
        cents = [
            [
                float(by_cell[cell][1][d])
                / (float(by_cell[cell][0]) * float(int_scale))
                if cell in by_cell
                else cents[cell][d]  # empty cell keeps its centroid
                for d in range(dim)
            ]
            for cell in range(k)
        ]
    return cents


def int_vectors_prepared(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
) -> DataFrame:
    """The (__id, iv) integer projection as a caller-owned relation, for
    sharing ONE persisted copy across a train+encode+serve pipeline
    (r17: q_ann_pq_recall_trained_cb ran four independent fan_out scans
    and two private persists of this same projection). Pass the
    persisted result as ``prepared=`` to :func:`kmeans_fit`,
    :func:`pq_train` and :func:`ivf_assign_encode`; values are identical
    to each operator's private projection by construction."""
    return _int_vectors(df, id_col, vec_col, int_scale)


def kmeans_fit(
    df: DataFrame,
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
    prepared: DataFrame | None = None,
) -> list[list[float]]:
    """Train the IVF coarse quantizer and return only the centroid MODEL
    (k×dim doubles) — the artifact a real index build persists and ships
    to the serving tier. Same training loop as :func:`kmeans_cells`
    (identical seeds, assignment kernel, update rule), split out so the
    trained-index audit can route NEW vectors through
    :func:`ivf_assign` with the exact arithmetic training used
    (reference parity: the ETL's enrichment lookups separate the
    lookup-table BUILD from its APPLY the same way,
    spring-cloud-kafka-streams-dbz-etl processor topology; here the
    split is train-vs-serve for the ANN index).

    ``k=None`` (the default) sizes the quantizer from the training
    corpus via :func:`ivf_cells_for` — the count() runs on the already-
    persisted integer projection, so it costs one pass the Lloyd rounds
    were about to pay for anyway. ``prepared`` (a caller-persisted
    :func:`int_vectors_prepared` relation) skips the private projection
    and its persist/unpersist — identical training, shared scan."""
    own = prepared is None
    base = _int_vectors(df, id_col, vec_col, int_scale).persist() if own else prepared
    try:
        if k is None:
            k = ivf_cells_for(base.count())
        return _lloyd_train(
            base,
            k,
            iters,
            dim,
            int_scale,
            lambda c: _assign_arrow(base, c, dim, int_scale),
            stats_impl=lambda c: _lloyd_stats_arrow(base, c, dim, int_scale),
        )
    finally:
        if own:
            base.unpersist()


def ivf_assign(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
) -> DataFrame:
    """Serving-time IVF routing: assign each vector to its nearest
    trained centroid via the SAME :func:`_argmin_cells` kernel the
    training rounds used — one map-only Arrow pass, no shuffle, no
    driver round-trip. Returns (id_col, cell int, dist double ROUND(6)).
    This is the routing step a 100 TB index build runs when writing
    cell-partitioned code files, and what q_ann_pq_recall_trained uses
    to route both corpus and probes through trained cells."""
    base = _int_vectors(df, id_col, vec_col, int_scale)
    return _assign_arrow(base, cents, dim, int_scale).select(
        F.col("__id").alias(id_col),
        F.col("cell").cast("int").alias("cell"),
        F.round(F.col("dist"), 6).alias("dist"),
    )


def ivf_probe(
    df: DataFrame,
    cents: list[list[float]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
) -> DataFrame:
    """Multi-probe serving-time routing — the standard IVF recall knob:
    per vector, the ``nprobe`` nearest trained cells by the SAME
    :func:`_cell_dists` fold the assignment kernel uses, ranked
    (dist ASC, cell ASC) via a stable argsort (ties keep ascending cell
    index — exactly the SQL window's tie-break). Returns
    (id_col, cell, probe_rank 1..nprobe); probe_rank 1 is
    :func:`ivf_assign`'s cell by construction. One map-only Arrow pass,
    no shuffle — at 100 TB a probe batch routes in milliseconds and the
    downstream ADC scan reads nprobe/n_cells of the code files."""
    C = [list(map(float, c)) for c in cents]
    npb = int(nprobe)
    if not 1 <= npb <= len(C):
        raise ValueError(f"nprobe must be in [1, {len(C)}], got {nprobe}")
    base = _int_vectors(df, id_col, vec_col, int_scale)

    def go(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            IV = np.array([np.asarray(x, dtype=np.int64) for x in pdf["iv"]])
            dists = _cell_dists(IV, C, dim, int_scale)
            order = np.argsort(dists, axis=1, kind="stable")[:, :npb]
            ids = pdf["__id"].to_numpy()
            yield pd.DataFrame(
                {
                    "__id": np.repeat(ids, npb),
                    "cell": order.reshape(-1).astype("int32"),
                    "probe_rank": np.tile(
                        np.arange(1, npb + 1), len(ids)
                    ).astype("int32"),
                }
            )

    return base.mapInPandas(go, "__id long, cell int, probe_rank int").select(
        F.col("__id").alias(id_col), "cell", "probe_rank"
    )


def ivf_probe_pd(
    probes_pd,
    cents: list[list[float]],
    nprobe: int,
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
):
    """Driver-side twin of :func:`ivf_probe` for a control-plane-sized
    probe set that is ALREADY in pandas (r17: the serving queries ran a
    full mapInPandas pass plus a shuffle join to route 8 probe rows).
    Same integerization (floor(x·int_scale) on the double cast), same
    :func:`_cell_dists` fold, same stable argsort tie-break — the
    (probe × nprobe) frame is row-for-row the probes⋈ivf_probe join.
    Appends a ``cell`` int32 column, one row per (probe, probe_rank)."""
    import numpy as np

    C = [list(map(float, c)) for c in cents]
    npb = int(nprobe)
    if not 1 <= npb <= len(C):
        raise ValueError(f"nprobe must be in [1, {len(C)}], got {nprobe}")
    if not len(probes_pd):
        out = probes_pd.copy()
        out["cell"] = np.array([], dtype="int32")
        return out
    IV = np.array(
        [
            np.floor(np.asarray(v, dtype=np.float64) * float(int_scale)).astype(
                np.int64
            )
            for v in probes_pd[vec_col]
        ]
    )
    dists = _cell_dists(IV, C, dim, int_scale)
    order = np.argsort(dists, axis=1, kind="stable")[:, :npb]
    rep = probes_pd.loc[probes_pd.index.repeat(npb)].reset_index(drop=True)
    rep["cell"] = order.reshape(-1).astype("int32")
    return rep


def kmeans_cells(
    df: DataFrame,
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
    use_arrow: bool = True,
) -> DataFrame:
    """Lloyd's k-means over the corpus — the TRAINING half of the IVF
    path (q_ann_ivf/q_ann_ivfpq consume a cell assignment; this is where
    the cells come from). Returns (id, cell, dist) for the final
    assignment. :func:`kmeans_fit` exposes the same training loop when
    only the centroid MODEL is wanted (serving-path routing via
    :func:`ivf_assign`).

    Spark-first iteration shape (the MLlib pattern): the MODEL (k×dim
    centroids) is driver-side metadata, the DATA never leaves executors.
    Each round is (a) a map-only argmin assignment — an Arrow batch
    pass with the centroid matrix broadcast (since r6; the k×dim
    literal expression tree it replaced paid a multi-second codegen
    warmup per round and is retained as ``assign_expr``, pinned
    row-for-row equal) — (b) one groupBy(cell, dim) over exploded
    integer components to get per-dim sums/counts (map-side combinable,
    k×dim-row result), (c) a k×dim collect to rebuild the model.
    Nothing data-sized ever reaches the driver.

    Cross-engine determinism (same policy as LSH/PQ): vectors enter as
    floor(x·int_scale) BIGINTs, centroids are sum/(n·int_scale) doubles
    (exact integer operands -> one IEEE division, bit-identical
    everywhere), distances accumulate (iv/int_scale − c)² in ascending
    dimension order, argmin tie-breaks on the smaller cell id. Seeds are
    the first k rows in `_seed_hash` order — deterministic spread, no RNG.

    Scale: per round, the argmin is whole-stage-codegen'd map work and
    the update is ONE shuffle of k×dim partial sums (bytes independent
    of corpus size). iters is fixed (production IVF trains on a sample
    anyway); convergence quality is the standard Lloyd guarantee.
    ``k=None`` sizes the quantizer via :func:`ivf_cells_for`.
    """
    base = _int_vectors(df, id_col, vec_col, int_scale).persist()
    if k is None:
        k = ivf_cells_for(base.count())

    def assign_expr(cents_now: list[list[float]]) -> DataFrame:
        """JVM-expression assignment (the pre-r6 registered form): k×dim
        inlined literal terms + struct array_min. Kept as the
        zero-Python reference — pinned row-for-row equal to ``assign``
        in test_kmeans_assign_arrow_equals_expr."""
        cands = []
        for cell, c in enumerate(cents_now):
            dist = None
            for d in range(dim):
                t = F.element_at("iv", d + 1) / F.lit(float(int_scale)) - F.lit(c[d])
                term = t * t
                dist = term if dist is None else dist + term
            cands.append(F.struct(dist.alias("dist"), F.lit(cell).alias("cell")))
        best = F.array_min(F.array(*cands))
        return base.select(
            "__id", "iv", best["cell"].alias("cell"), best["dist"].alias("dist")
        )

    def assign(cents_now: list[list[float]]) -> DataFrame:
        """Arrow assignment (registered since r6, same lesson as the
        ADC/encode/cosine-pair swaps): the k×dim literal tree is
        interpreted per row and pays a multi-second codegen warmup; the
        numpy form routes through the shared :func:`_assign_arrow` /
        :func:`_argmin_cells` kernel — the same batches
        :func:`ivf_assign` serves with, so training and serving cannot
        drift. ROUND(6) stays in the JVM caller."""
        return _assign_arrow(base, cents_now, dim, int_scale)

    assign_impl = assign if use_arrow else assign_expr
    cents = _lloyd_train(
        base,
        k,
        iters,
        dim,
        int_scale,
        assign_impl,
        stats_impl=(
            (lambda c: _lloyd_stats_arrow(base, c, dim, int_scale))
            if use_arrow
            else None
        ),
    )

    out = assign_impl(cents).select(
        F.col("__id").alias(id_col),
        F.col("cell").cast("int").alias("cell"),
        F.round(F.col("dist"), 6).alias("dist"),
    )
    base.unpersist()
    return out


# Rows per pair-kernel block: bounds per-cell memory at block·|cell|, and
# undirected blocks skip the columns left of the block (the lower
# triangle), which a whole-cell block would fold and throw away.
PAIR_BLOCK_ROWS = 128


def cell_pair_batches(
    ids,
    vecs,
    cell,
    names: list[str],
    directed: bool,
    min_cos: float | None,
) -> Iterator:
    """The pair record batches of ONE cell: :func:`pair_dots_arrow`'s
    per-cell kernel. ``ids`` is the cell's int64 id array in ascending
    order, ``vecs`` the aligned Arrow list<double> array, ``cell`` the
    cell key scalar and ``names`` the six output column names. Rows are
    processed ``PAIR_BLOCK_ROWS`` at a time against the whole cell, so the
    accumulator and every yielded batch hold at most ``PAIR_BLOCK_ROWS``·m
    entries however hot the cell is."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    m = len(ids)
    if m < 2:
        return
    # class per row: its length, or -1 for a NULL vector / NULL element
    # (every pair it is in folds to NULL, as zip_with pads and poisons)
    lens = pc.list_value_length(vecs).fill_null(-1).to_numpy()
    flat = pc.list_flatten(vecs)
    null_el = flat.is_null().to_numpy(zero_copy_only=False)
    parents = pc.list_parent_indices(vecs).to_numpy()
    cls = np.where(np.bincount(parents[null_el], minlength=m) > 0, -1, lens)
    starts = np.concatenate([[0], np.cumsum(np.maximum(lens, 0))[:-1]])
    vals = flat.to_numpy(zero_copy_only=False)
    norms = np.full(m, np.nan)
    classes = []
    for length in np.unique(cls[cls >= 0]):
        pos = np.flatnonzero(cls == length)
        Vt = vals[starts[pos][None, :] + np.arange(length)[:, None]]
        # the norm is dot(v, v) by the same fold; sqrt is correctly
        # rounded in IEEE, matching the JVM l2_norm
        nsq = np.zeros(len(pos))
        for d in range(length):
            nsq += Vt[d] * Vt[d]
        norms[pos] = np.sqrt(nsq)
        classes.append((length, pos, Vt))
    norm_null = cls < 0
    for i0 in range(0, m, PAIR_BLOCK_ROWS):
        i1 = min(i0 + PAIR_BLOCK_ROWS, m)
        # undirected pairs have id_b > id_a, so sit right of the block
        c0 = 0 if directed else i0 + 1
        dp = np.zeros((i1 - i0, m - c0))
        valid = np.zeros(dp.shape, dtype=bool)
        for length, pos, Vt in classes:
            rsel = (pos >= i0) & (pos < i1)
            csel = pos >= c0
            if not rsel.any() or not csel.any():
                continue
            A, B = Vt[:, rsel], Vt[:, csel]
            acc = np.zeros((A.shape[1], B.shape[1]))
            for d in range(length):
                # ascending-d left fold for every pair at once; one IEEE
                # multiply + one IEEE add per step, exactly the
                # zip_with/aggregate sequence
                acc += np.outer(A[d], B[d])
            ix = np.ix_(pos[rsel] - i0, pos[csel] - c0)
            dp[ix] = acc
            valid[ix] = True
        ia, ib = ids[i0:i1, None], ids[None, c0:]
        bi, bj = np.nonzero(ia != ib if directed else ia < ib)
        dpv, ok = dp[bi, bj], valid[bi, bj]
        gi, gj = bi + i0, bj + c0
        if min_cos is not None:
            # conservative pre-filter only: ROUND(6) can lift a value by
            # up to 5e-7, and NaN cosines and NULL dots are kept, so the
            # JVM-side decision on the rounded value is unchanged
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dpv / (norms[gi] * norms[gj])
            keep = ~(cos < min_cos - 1e-6) | ~ok
            dpv, ok, gi, gj = dpv[keep], ok[keep], gi[keep], gj[keep]
        if len(gi):
            yield pa.record_batch(
                [
                    pa.array(ids[gi]),
                    pa.array(ids[gj]),
                    pa.repeat(cell, len(gi)),
                    pa.array(dpv, mask=~ok),
                    pa.array(norms[gi], mask=norm_null[gi]),
                    pa.array(norms[gj], mask=norm_null[gj]),
                ],
                names=names,
            )


def pair_dots_arrow(
    e: DataFrame,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "v",
    directed: bool = False,
    min_cos: float | None = None,
) -> DataFrame:
    """All within-cell pair DOT PRODUCTS plus both vectors' norms, as one
    mapInArrow pass per cell — the package's one within-cell pair
    generator (q_embedding_cosine_dup, q_triangle_count and the kNN
    family). It stays in Arrow end to end, so the exact NULL/NaN algebra
    of the expression form survives (q_triangle_count keeps NaN pairs
    because NaN compares largest in both engines; q_knn_graph ranks NULL
    cosines last and NaN first): NaN data flows through numpy untouched
    and NULLs are explicit validity bits. Rows with a NULL id or a NULL
    cell key are dropped first, as the oracles' inner joins drop them.

    Emits (``{id}_a``, ``{id}_b``, ``cell_col``, __dp, __na, __nb) for
    every pair id_a < id_b of the cell (both directions when
    ``directed``); the caller applies the SAME JVM tail as the join form
    — ``round(try_divide(__dp, __na*__nb), 6)`` — so every division,
    zero-norm NULL, ROUND and threshold/rank decision is made by the
    identical expression on bit-identical operands:

    - __dp accumulates ``V[i,d]*V[j,d]`` in ascending d with one IEEE
      add per step — the expression form's ``aggregate(zip_with(...))``
      left fold exactly (products first, then sequential adds from 0.0).
    - __na/__nb are ``sqrt`` of each vector's fold with itself — the
      same fold over the same array as ``l2_norm``, so the caller no
      longer computes or carries norms at all.
    - A vector that is NULL, has a NULL element, or whose length differs
      from its partner's folds to a NULL dot in the expression form
      (zip_with pads with NULLs, one NULL poisons the fold); such pairs
      emit __dp NULL here. Same-length degenerate pairs (including two
      empty vectors: fold over nothing = 0.0) go through the matrix.

    ``min_cos`` is a conservative in-kernel pre-filter for callers that
    keep ``cosine >= min_cos`` only: a pair is dropped when its numpy
    cosine is below ``min_cos - 1e-6``; NaN cosines and NULL dots are
    kept. The caller's JVM filter still makes the decision.

    Scale: one shuffle (each vector moves once to its cell); the
    partition's input is sorted by (cell, id) in Arrow and each cell is
    emitted ``PAIR_BLOCK_ROWS`` rows at a time (:func:`cell_pair_batches`),
    so memory per cell is O(block·|cell|). Row-for-row parity with the
    join-HOF form is pinned in tests/test_plans.py and fuzz-swept (incl.
    NULL id/cell, NaN, zero, ragged rows) in tools/deep_fuzz.py.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cell_t = e.schema[cell_col].dataType.simpleString()
    names = [f"{id_col}_a", f"{id_col}_b", cell_col, "__dp", "__na", "__nb"]
    out_schema = (
        f"{id_col}_a long, {id_col}_b long, {cell_col} {cell_t}, "
        "__dp double, __na double, __nb double"
    )

    def cell_dots(batches):
        # cells are complete per partition after the repartition below
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        t = (
            t.filter(pc.and_(pc.is_valid(t[id_col]), pc.is_valid(t[cell_col])))
            .sort_by([(cell_col, "ascending"), (id_col, "ascending")])
            .combine_chunks()
        )
        n = t.num_rows
        if n < 2:
            return
        cells = t.column(cell_col).chunk(0)
        ids = t.column(id_col).to_numpy().astype(np.int64)
        vecs = t.column(vec_col).chunk(0)
        change = pc.not_equal(cells.slice(1), cells.slice(0, n - 1))
        edges = [0, *(np.flatnonzero(change.to_numpy(zero_copy_only=False)) + 1), n]
        for s, f in zip(edges[:-1], edges[1:]):
            yield from cell_pair_batches(
                ids[s:f], vecs.slice(s, f - s), cells[s], names, directed, min_cos
            )

    return (
        e.select(cell_col, id_col, vec_col)
        .repartition(cell_col)
        .mapInArrow(cell_dots, out_schema)
    )


# -- trained product-quantization codebooks ----------------------------------

PQT_ITERS = 2


def pq_train(
    df: DataFrame,
    subspaces: int = PQ_SUBSPACES,
    k: int = PQ_K,
    dim: int = PQ_DIM,
    int_scale: int = 1_000_000,
    iters: int = PQT_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prepared: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Train all ``subspaces`` PQ codebooks in ONE distributed Lloyd run
    — the step that separates a usable IVF-PQ index from the fixed
    lattice codebook (q_ann_pq_recall_trained measured the lattice's ADC
    noise as the binding recall loss; training the codebooks recovers
    it: see q_ann_pq_recall_trained_cb). Vectors explode into
    (id, m, integer-subvector) rows — m is a COLUMN, not a loop — so
    every round is one Arrow argmin pass over all subspaces at once
    (per-m centroid slices of the broadcast tensor, the same
    :func:`_cell_dists` fold as cell training) plus ONE
    groupBy(m, code, d) shuffle whose result is subspaces×k×sub rows
    regardless of corpus size. Returns codebooks[m][code] as sub-dim
    float lists.

    Cross-engine determinism (the kmeans_cells policy, subspace-wise):
    integer subvectors floor(x*int_scale), centroids sum/(n*int_scale)
    exact divisions, ascending-d folds, argmin-first = smaller-code
    tie-break, seeds = the first k distinct ``id_col`` values in
    `_seed_hash` order (subvectors ranked per m by that order). Empty
    codes keep their centroid. The DuckDB
    twin is the relational chain in queries/similarity._pq_train_cte_chain.
    """
    sub = dim // subspaces
    base = (
        _int_vectors(df, id_col, vec_col, int_scale) if prepared is None else prepared
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(m).cast("int").alias("m"),
                F.slice("iv", m * sub + 1, sub).alias("siv"),
            )
            for m in range(subspaces)
        ]
    )
    sv = (
        base.select("__id", F.explode(slices).alias("x"))
        .select("__id", F.col("x.m").alias("m"), F.col("x.siv").alias("siv"))
        .persist()
    )
    try:
        # Seed IDS first, subvectors second (ADVICE r10: the old
        # limit(k*subspaces) over (__id, m) rows assumed unique ids with
        # exactly `subspaces` rows each — a duplicate id could leave
        # None codebook slots). Ranks follow _seed_hash order, the same
        # deterministic spread the cell trainer uses. r17: both seed jobs
        # run on the UNEXPLODED base (k full iv rows slice locally into
        # the k×subspaces subvectors — identical values, 1/subspaces the
        # scanned rows); the duplicate-id raise is preserved verbatim
        # (base.filter(isin) yields >k rows iff a seed id repeats).
        # (Row.__id needs item access — PySpark blocks dunder attributes.)
        seed_ids = [
            r["__id"]
            for r in base.select("__id")
            .distinct()
            .orderBy(_seed_hash(F.col("__id")), "__id")
            .limit(k)
            .collect()
        ]
        if len(seed_ids) < k:
            raise ValueError(f"corpus has fewer than k={k} vectors")
        rank_of = {vid: i for i, vid in enumerate(seed_ids)}
        seed_rows = base.filter(F.col("__id").isin(seed_ids)).collect()
        if len(seed_rows) != k:
            raise ValueError(
                f"seed ids are not unique in the corpus: expected "
                f"{k * subspaces} (id, m) rows, got {len(seed_rows) * subspaces}"
            )
        cb: list[list[list[float]]] = [[None] * k for _ in range(subspaces)]
        for r in seed_rows:
            rank = rank_of[r["__id"]]
            for m in range(subspaces):
                cb[m][rank] = [
                    float(x) / float(int_scale)
                    for x in r.iv[m * sub : (m + 1) * sub]
                ]

        def stats_pass(
            cb_now: list[list[list[float]]],
        ) -> dict[tuple[int, int], tuple[int, list[int]]]:
            """One PQ Lloyd round's sufficient statistics, fused into the
            per-subspace argmin kernel (r17 optimization — the kmeans
            `_lloyd_stats_arrow` shape over (m, code)): each Arrow batch
            leaves Python as ≤subspaces×k partial-sum rows instead of the
            sub-dim-exploded subvector relation; the combinable
            groupBy(m, code) reduces them, and integer-sum associativity
            keeps the centroid divisions bit-identical."""
            C = [[list(map(float, c)) for c in bk] for bk in cb_now]

            def go(batches):
                import numpy as np
                import pandas as pd

                acc: dict[tuple[int, int], tuple[int, object]] = {}
                for pdf in batches:
                    if not len(pdf):
                        continue
                    mv = pdf["m"].to_numpy()
                    IVS = np.array(
                        [np.asarray(x, dtype=np.int64) for x in pdf["siv"]]
                    )
                    for m in np.unique(mv):
                        mask = mv == m
                        sub_iv = IVS[mask]
                        cm, _ = _argmin_cells(sub_iv, C[int(m)], sub, int_scale)
                        for code in np.unique(cm):
                            mm = cm == code
                            key = (int(m), int(code))
                            n, s = int(mm.sum()), sub_iv[mm].sum(axis=0)
                            if key in acc:
                                pn, ps = acc[key]
                                acc[key] = (pn + n, ps + s)
                            else:
                                acc[key] = (n, s)
                if acc:
                    yield pd.DataFrame(
                        {
                            "m": [k_[0] for k_ in acc],
                            "code": [k_[1] for k_ in acc],
                            "n": [v[0] for v in acc.values()],
                            "s": [v[1].tolist() for v in acc.values()],
                        }
                    )

            partials = sv.mapInPandas(go, "m int, code int, n long, s array<long>")
            # same few-partition driver reduction as _lloyd_stats_arrow
            if sv.rdd.getNumPartitions() <= 64:
                out: dict[tuple[int, int], tuple[int, list[int]]] = {}
                for r in partials.collect():
                    key = (int(r["m"]), int(r["code"]))
                    n, s = int(r["n"]), [int(x) for x in r["s"]]
                    if key in out:
                        pn, ps = out[key]
                        out[key] = (pn + n, [a + b for a, b in zip(ps, s)])
                    else:
                        out[key] = (n, s)
                return out
            rows = (
                partials.groupBy("m", "code")
                .agg(
                    F.sum("n").alias("n"),
                    *[
                        F.sum(F.element_at("s", d + 1)).alias(f"s{d}")
                        for d in range(sub)
                    ],
                )
                .collect()
            )
            return {
                (int(r["m"]), int(r["code"])): (
                    int(r["n"]),
                    [int(r[f"s{d}"]) for d in range(sub)],
                )
                for r in rows
            }

        for _ in range(iters):
            by_mc = stats_pass(cb)
            cb = [
                [
                    [
                        float(by_mc[(m, code)][1][d])
                        / (float(by_mc[(m, code)][0]) * float(int_scale))
                        if (m, code) in by_mc
                        else cb[m][code][d]  # empty code keeps its centroid
                        for d in range(sub)
                    ]
                    for code in range(k)
                ]
                for m in range(subspaces)
            ]
        return cb
    finally:
        sv.unpersist()


def pq_encode_cb(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode against TRAINED codebooks (:func:`pq_train`) — same Arrow
    shape as :func:`pq_encode`, but the input enters as iv/int_scale
    doubles (the space the codebooks were trained in, via the same
    :func:`_cell_dists` fold), so encode distance and training distance
    are bit-compatible. Returns (id, *keep_cols, pq_codes 'c0,...',
    recon_err ROUND(6)); ties break to the smaller code (argmin-first).
    """
    subspaces = len(codebooks)
    sub = len(codebooks[0][0])
    C = [[list(map(float, c)) for c in bk] for bk in codebooks]
    iv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * float(int_scale)).cast("long"),
    )
    in_cols = [F.col(id_col), *[F.col(c) for c in keep_cols], iv.alias("__iv")]
    base = df.select(*in_cols)
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            IV = np.array([np.asarray(x, dtype=np.int64) for x in pdf["__iv"]])
            n = len(IV)
            codes = np.empty((n, subspaces), dtype=np.int64)
            recon = np.zeros(n)
            for m in range(subspaces):
                cm, dm = _argmin_cells(
                    IV[:, m * sub : (m + 1) * sub], C[m], sub, int_scale
                )
                codes[:, m] = cm
                recon = recon + dm  # ascending-m left fold
            out = {id_col: pdf[id_col].to_numpy()}
            for c in keep_cols:
                out[c] = pdf[c]
            out["pq_codes"] = [",".join(str(int(x)) for x in row) for row in codes]
            out["recon_err"] = recon
            yield pd.DataFrame(out)

    enc_df = base.mapInPandas(
        enc,
        f"{id_col} long{keep_schema}, pq_codes string, recon_err double",
    )
    return enc_df.select(
        id_col,
        *keep_cols,
        "pq_codes",
        F.round(F.col("recon_err"), 6).alias("recon_err"),
    )


def ivf_assign_encode(
    df: DataFrame,
    cents: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """:func:`ivf_assign` ⋈ :func:`pq_encode_cb` fused into ONE Arrow
    pass (r17 optimization): the index build routes each vector to its
    trained cell AND encodes it against the trained codebooks from the
    same in-memory batch, emitting (id, cell, pq_codes) directly — the
    join-on-id shuffle between the two former passes disappears (the id
    is unique, so the join result is exactly this row set). Cell argmin
    and per-subspace code argmin are the identical `_argmin_cells`
    kernels the split operators use, so every value is unchanged. At
    100 TB this is the difference between scanning the corpus twice plus
    shuffling it once, and scanning it once."""
    base = (
        _int_vectors(df, id_col, vec_col, int_scale) if prepared is None else prepared
    )
    subspaces = len(codebooks)
    sub = len(codebooks[0][0])
    C = [list(map(float, c)) for c in cents]
    CB = [[list(map(float, c)) for c in bk] for bk in codebooks]

    def go(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            IV = np.array([np.asarray(x, dtype=np.int64) for x in pdf["iv"]])
            cellv, _ = _argmin_cells(IV, C, dim, int_scale)
            n = len(IV)
            codes = np.empty((n, subspaces), dtype=np.int64)
            for m in range(subspaces):
                cm, _dm = _argmin_cells(
                    IV[:, m * sub : (m + 1) * sub], CB[m], sub, int_scale
                )
                codes[:, m] = cm
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "cell": cellv.astype("int32"),
                    "pq_codes": [
                        ",".join(str(int(x)) for x in row) for row in codes
                    ],
                }
            )

    return base.mapInPandas(go, "__id long, cell int, pq_codes string").select(
        F.col("__id").alias(id_col), "cell", "pq_codes"
    )


def pq_adc_topk_cb(
    queries_pd,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    int_scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k against TRAINED codebooks: probe LUTs
    build driver-side from iv/int_scale probe subvectors vs the trained
    tensor (ascending-d explicit adds — the list_sum order), then the
    scan/rank tail is the SHARED :func:`_adc_rank` (identical to the
    lattice server), so only the LUT source differs between the two."""
    import numpy as np

    subspaces = len(codebooks)
    sub = len(codebooks[0][0])
    if not len(queries_pd):
        return codes.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc_dist double, rank int"
        )
    n_codes = len(codebooks[0])
    luts = np.zeros((len(queries_pd), subspaces, n_codes))
    qids: list[int] = []
    qcells: list = []
    for qi, (_, q) in enumerate(queries_pd.iterrows()):
        qiv = [
            float(np.floor(float(x) * int_scale)) / float(int_scale)
            for x in q[vec_col]
        ]
        qids.append(int(q[id_col]))
        if cell_col is not None:
            cell = q[cell_col]
            qcells.append(cell.item() if hasattr(cell, "item") else cell)
        for m in range(subspaces):
            seg = qiv[m * sub : (m + 1) * sub]
            for kk in range(n_codes):
                c = codebooks[m][kk]
                luts[qi, m, kk] = sum(
                    (seg[d] - c[d]) * (seg[d] - c[d]) for d in range(sub)
                )
    return _adc_rank(codes, luts, qids, qcells, cell_col, k, id_col)
