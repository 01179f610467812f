"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the scale plan:

- **brute-force cosine top-k** — the correctness baseline. The query set is
  small (top-k *for a handful of probe vectors*), so the probe side is
  broadcast and the scan side is never shuffled; per-row dot products are
  pure higher-order expressions (zip_with + aggregate → JVM codegen, no
  Python). O(|corpus|·|probes|) compute, zero shuffle, one top-k window
  over |probes|·|corpus| scored rows pre-pruned per-partition.
- **LSH-bucketed ANN** — the 100 TB path. Deterministic hyperplanes (their
  weights are digest60-derived, so the DuckDB oracle can rebuild the exact
  same planes — no RNG state anywhere) assign each vector a `nplanes`-bit
  bucket; neighbor search joins on the bucket and scores within it.
  Recall < 1 by construction; determinism == reproducibility is the tested
  contract, and the brute-force tier is the recall referee.

All scoring is done in float64 with a fixed left-to-right summation order
(F.aggregate), then rounded to 6 dp — this is what lets the DuckDB oracle
(same fold order via list_sum of doubles) match the values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import sql_digest60

NPLANES = 8
PLANE_MOD = 2001  # weight ∈ {-1000..1000}/1000
LSH_TARGET_BUCKET = 128  # aimed E[bucket size] for derived plane counts
LSH_MAX_PLANES = 24


def derive_nplanes(
    n: int,
    target_bucket: int = LSH_TARGET_BUCKET,
    floor: int = NPLANES,
    cap: int = LSH_MAX_PLANES,
) -> int:
    """Corpus-scaled hyperplane count (VERDICT r2 next-round #8): enough
    planes that E[bucket] = n / 2^p ≈ target_bucket — p = ceil(log2(n /
    target)), clamped to [NPLANES, 24]. At gate scale (≤ ~30k vectors) the
    floor wins, so derived == the historical constant and every oracle
    stays valid; at 100 TB the bucket count grows with the corpus instead
    of bucket occupancy (the r1 single-table scale-killer)."""
    q = max(1, -(-max(n, 1) // target_bucket))
    return max(floor, min(cap, max(1, (q - 1).bit_length())))


def approx_corpus_size(emb: DataFrame, id_col: str = "vec_id") -> int:
    """One cheap agg: HyperLogLog++ distinct count of the id column — the
    build-time input to derive_nplanes/derive_ncells. Deterministic for a
    fixed dataset (HLL sketches carry no RNG), but NOT cross-engine
    portable — derived parameters feed offline builds, while the
    oracle-checked queries pin their plane/cell constants explicitly."""
    return int(emb.agg(F.approx_count_distinct(id_col).alias("n")).first()["n"])


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as double, strict left-to-right fold (oracle-matchable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return F.round(dot(a, b) / (norm(a) * norm(b)), 6)


def sql_dot(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def sql_cosine(a: str, b: str, dim: int) -> str:
    return (
        f"round({sql_dot(a, b, dim)} / "
        f"(sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)})), 6)"
    )


def cosine_topk(
    emb: DataFrame, probe_ids: list[int], k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """For each probe id: the k nearest OTHER vectors by cosine.

    Output (probe_id, vec_id, cos_sim, rnk). Ties broken by vec_id asc so
    the row set is total-order deterministic.
    """
    probes = F.broadcast(
        emb.filter(F.col(id_col).isin(probe_ids)).select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")
        )
    )
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
        .join(probes, F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", cosine(F.col("_pv"), F.col("_v")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rnk")
    )


# -- deterministic hyperplane LSH ------------------------------------------------

def sql_plane_weight(p: str, d: str) -> str:
    """DuckDB derivation of the plane weights — independent of the Python
    precompute (plane_weight_py), so the oracle genuinely re-derives them."""
    h = sql_digest60(f"'plane:' || ({p})::VARCHAR || ':' || ({d})::VARCHAR")
    half = (PLANE_MOD - 1) / 2
    return f"(CAST(({h}) % {PLANE_MOD} AS DOUBLE) - {half}) / {half}"


def plane_weight_py(p: int, d: int) -> float:
    """Python twin of plane_weight (hashlib md5 == Spark/DuckDB md5), used
    to PREcompute the plane matrix driver-side: the weights are functions
    of literals only, and leaving them as md5 expressions made Spark
    recompute nplanes·dim md5s per ROW (no constant folding through
    higher-order lambdas — measured 5× slowdown on emb_ann_lsh)."""
    import hashlib

    h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:15], 16)
    half = (PLANE_MOD - 1) / 2
    return ((h % PLANE_MOD) - half) / half


def lsh_bucket(
    vec: Column, nplanes: int = NPLANES, dim: int = 64, offset: int = 0
) -> Column:
    """nplanes sign bits of ⟨vec, plane_p⟩ packed into an int bucket id.

    Plane weights are embedded as array literals (see plane_weight_py);
    the per-row work is pure zip_with/aggregate arithmetic in codegen.
    ``offset`` selects planes offset..offset+nplanes-1 from the same
    digest-derived family — band t of a banded LSH uses offset = t·r.
    """
    bucket = F.lit(0)
    for p in range(nplanes):
        w = F.array(*[F.lit(plane_weight_py(offset + p, d)) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, wd: x.cast("double") * wd),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("int")


def sql_lsh_bucket(vec: str, dim: int, nplanes: int = NPLANES, offset: int = 0) -> str:
    terms = []
    for p in range(nplanes):
        proj = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({sql_plane_weight(str(offset + p), 'i - 1')})))"
        )
        terms.append(f"CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS INT)"


# -- IVF (inverted-file) ANN: fixed deterministic centroids -----------------------

IVF_CELLS = 8


def centroid_py(c: int, d: int) -> float:
    """Centroid component — same md5-derived construction as the LSH
    planes (hashlib == Spark md5 == DuckDB md5), so all three engines can
    re-derive the codebook independently. A production deployment swaps in
    k-means centroids computed offline; assignment/search are unchanged."""
    import hashlib

    h = int(hashlib.md5(f"ivf:{c}:{d}".encode()).hexdigest()[:15], 16)
    half = (PLANE_MOD - 1) / 2
    return ((h % PLANE_MOD) - half) / half


def sql_centroid(c: str, d: str) -> str:
    h = sql_digest60(f"'ivf:' || ({c})::VARCHAR || ':' || ({d})::VARCHAR")
    half = (PLANE_MOD - 1) / 2
    return f"(CAST(({h}) % {PLANE_MOD} AS DOUBLE) - {half}) / {half}"


def ivf_cell(vec: Column, ncells: int = IVF_CELLS, dim: int = 64) -> Column:
    """Nearest-centroid cell id (argmin squared L2; ties → lowest cell).

    Centroids embed as array literals; per-row work is pure arithmetic.
    Implemented as array_min over (dist, cell) structs — Spark orders
    structs lexicographically, which IS the argmin-with-tie-break."""
    entries = []
    for c in range(ncells):
        cent = F.array(*[F.lit(centroid_py(c, d)) for d in range(dim)])
        dist = F.aggregate(
            F.zip_with(vec, cent, lambda x, m: (x.cast("double") - m) * (x.cast("double") - m)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        entries.append(F.struct(F.round(dist, 6).alias("d"), F.lit(c).alias("c")))
    return F.array_min(F.array(*entries))["c"].cast("int")


def sql_ivf_cell(vec: str, ncells: int = IVF_CELLS, dim: int = 64) -> str:
    dists = []
    for c in range(ncells):
        dists.append(
            f"round(list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> (CAST({vec}[i] AS DOUBLE) - ({sql_centroid(str(c), 'i - 1')})) "
            f"* (CAST({vec}[i] AS DOUBLE) - ({sql_centroid(str(c), 'i - 1')})))), 6)"
        )
    structs = ", ".join(
        f"{{'d': {d}, 'c': {c}}}" for c, d in enumerate(dists)
    )
    return f"CAST(list_min([{structs}])['c'] AS INT)"


def neardup_pairs_banded(
    emb: DataFrame,
    bands: int = 2,
    planes_per_band: int | None = NPLANES,
    max_bucket: int = 1000,
    min_cos: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    persisted_out: list | None = None,
) -> DataFrame:
    """(id_a, id_b, n_bands, cos_sim): embedding near-dup candidate pairs
    via BANDED hyperplane LSH, exact-cosine verified.

    The round-1 single-table 8-plane version had 256 buckets, making
    within-bucket pairing ~O((n/256)²) at corpus scale (VERDICT r1
    next-round #4).  Banding fixes both axes independently:

    - recall: a pair is a candidate if it collides in ANY of ``bands``
      tables (planes t·r .. t·r+r-1), so more planes per band can cut
      bucket sizes without the single-table recall collapse;
    - bucket size: 2^planes_per_band buckets per band — at 100 TB raise
      planes_per_band (more, smaller buckets), not bucket occupancy — plus
      the same explicit ``max_bucket`` skew guard the document-LSH path
      has (a degenerate bucket is dropped before the O(b²) pair blow-up).

    Only (vec_id, band_id, bucket) rows cross the candidate shuffle;
    vectors are joined back per-pair for the exact-cosine verify.
    ``planes_per_band=None`` derives the plane count from the corpus size
    (derive_nplanes over an HLL distinct count — constants are the floor).
    """
    if planes_per_band is None:
        planes_per_band = derive_nplanes(approx_corpus_size(emb, id_col))
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    bucket_cols = [
        lsh_bucket(F.col("_v"), planes_per_band, dim, offset=t * planes_per_band)
        .cast("long")
        for t in range(bands)
    ]
    rows = src.select(
        "vec_id", F.posexplode(F.array(*bucket_cols)).alias("band_id", "bucket")
    ).persist()
    if persisted_out is not None:
        persisted_out.append(rows)
    sizes = rows.groupBy("band_id", "bucket").agg(F.count("*").alias("_b"))
    bounded = rows.join(
        sizes.filter(F.col("_b") <= max_bucket), ["band_id", "bucket"]
    ).drop("_b")
    a = bounded.select("band_id", "bucket", F.col("vec_id").alias("id_a"))
    c = bounded.select("band_id", "bucket", F.col("vec_id").alias("id_b"))
    cand = (
        a.join(c, ["band_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )
    va = src.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = src.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", "n_bands", "cos_sim")
    )


SEMDEDUP_TAU = 0.9
SEMDEDUP_QUANT = 1_000_000
# skew guard shared with the DuckDB oracle (the PHASH_MAX_BUCKET pattern):
# a degenerate cell — e.g. a spam cluster collapsing half the corpus into
# one centroid — would make the in-cell dominator join quadratic. Cells
# past the cap skip pair comparison entirely (all members kept): honest,
# deterministic, and mirrored in sql_semdedup's `ok` CTE.
SEMDEDUP_MAX_CELL = 10_000


def semdedup(
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    ncells: int = IVF_CELLS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persisted_out: list | None = None,
    max_cell: int = SEMDEDUP_MAX_CELL,
) -> DataFrame:
    """Semantic dedup (Abbas et al. 2023, "SemDeDup"): cluster the
    L2-normalized embeddings, and within each cluster drop every item that
    has cosine >= tau to a higher-priority item, where priority keeps the
    LOWEST similarity-to-centroid first (the paper's best-performing
    survivor rule: peripheral examples carry the most information).

    Output: (vec_id, cell, sim_centroid, kept) for EVERY input row.

    Scale shape: pair comparison is confined to cells — ncells grows as
    isqrt(n) (derive_ncells) so expected cell size stays bounded; the
    centroid build ships n·dim integer rows (the MinHash signature
    pattern) with a map-side-combinable sum; the dominator check is one
    Arrow batch per cell (bounded by max_cell) doing an exact-integer
    GEMM, with the decisive tau threshold re-applied as the original
    Spark expression on the surviving candidate pairs.

    Cross-engine determinism: centroids are per-cell component sums of
    micro-unit-quantized normalized vectors — exact int64, fold-order
    free (means would be float accumulation); cosine is scale-invariant
    so the un-divided sum IS the centroid direction. Normalization is
    bit-reproducible (IEEE sqrt + division), and a power-of-two scaled
    duplicate normalizes to the identical doubles, landing in the same
    cell with pairwise cosine exactly 1.0.
    """
    src = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("dvec"),
    )
    # materialize the norm as its own column: a HOF lambda re-evaluates a
    # captured expression per element (the O(len^2) gotcha)
    n = src.withColumn("nn", norm(F.col("dvec")))
    nr = n.select(
        "vec_id",
        F.transform(F.col("dvec"), lambda x: x / F.col("nn")).alias("nrm"),
    )
    # q fans out twice (centroid build + member table): persist so the
    # 8-cell x 64-dim assignment expression runs once per row
    q = nr.select(
        "vec_id",
        F.transform(
            F.col("nrm"),
            lambda x: F.round(x * SEMDEDUP_QUANT).cast("long"),
        ).alias("qvec"),
        ivf_cell(F.col("nrm"), ncells, dim).cast("long").alias("cell"),
    ).persist()
    if persisted_out is not None:
        persisted_out.append(q)
    expl = q.select("cell", F.posexplode("qvec").alias("pos", "qv"))
    sums = expl.groupBy("cell", "pos").agg(F.sum("qv").alias("s"))
    cents = sums.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda st: st["s"]
        ).alias("cvec")
    )
    # m fans out 3 ways (output, both sides of the dominator join): persist
    # the tiny (id, qvec, cell, sim) frame so the giant cell-assignment
    # expression tree is evaluated — and codegen-compiled — exactly once
    # qn (the qvec L2 norm) is materialized ONCE per row: the pair filter
    # below would otherwise re-fold norm(a) and norm(b) per CANDIDATE PAIR
    # through interpreted HOF lambdas — measured 45.8 s → 17 s at sf0.1.
    # round(dot/(qn·qn), 6) is the exact same IEEE op sequence as
    # cosine(), so oracle equality is untouched.
    m = (
        q.join(F.broadcast(cents), "cell")
        .withColumn("sim_centroid", cosine(F.col("qvec"), F.col("cvec")))
        .withColumn("qn", norm(F.col("qvec")))
        .drop("cvec")
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(m)
    # cell-size guard: only cells ≤ max_cell enter the O(cell²) dominator
    # join (their members are all kept otherwise) — ncells ≈ √n keeps the
    # EXPECTED cell bounded, this bounds the worst case
    ok = F.broadcast(
        m.groupBy("cell")
        .agg(F.count("*").alias("_csz"))
        .filter(F.col("_csz") <= max_cell)
        .select("cell")
    )
    mok = m.join(ok, "cell")

    # Candidate-pair generation: one Arrow batch per cell (groups are
    # bounded by max_cell rows x dim int64 ≈ 5 MB), a float64 GEMM inside.
    # The GEMM is EXACT, not approximate: qvec entries are integers with
    # |v| <= SEMDEDUP_QUANT, so every product (<= 1e12) and every partial
    # sum (<= dim·1e12 << 2^53) is an exactly-representable integer — any
    # summation order, SIMD or FMA, yields the bit-identical double the
    # interpreted left-to-right dot() fold produced. The UDF only
    # PRE-filters with a 1e-6 slack (round(x, 6) >= tau implies
    # x >= tau - 5e-7); the decisive threshold below stays the original
    # Spark expression, so oracle values are untouched. Replaced the
    # per-pair interpreted 64-element HOF fold of the theta-join
    # (13-19 s -> GEMM, sf0.1).
    tau_f = float(tau)

    def _cand_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "idot": pd.Series([], dtype="float64"),
                "qn_a": pd.Series([], dtype="float64"),
                "qn_b": pd.Series([], dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = pdf["sim_centroid"].to_numpy(dtype=np.float64)
        qn = pdf["qn"].to_numpy(dtype=np.float64)
        Q = np.vstack(pdf["qvec"].to_numpy()).astype(np.float64)
        # b dominates a iff b sorts strictly before a by (sim, id); NaN
        # maps to +inf so ordering/equality match Spark SQL NaN semantics
        # (NaN == NaN, NaN > everything). ids are unique by contract.
        skey = np.where(np.isnan(sims), np.inf, sims)
        order = np.lexsort((ids, skey))
        ids, qn, Q = ids[order], qn[order], Q[order]
        lo = tau_f - 1e-6
        cols = np.arange(n)
        out_a, out_d, out_na, out_nb = [], [], [], []
        blk = max(1, 8_000_000 // n)  # <= 64 MB of G per block
        for i0 in range(1, n, blk):
            i1 = min(n, i0 + blk)
            G = Q[i0:i1] @ Q.T
            with np.errstate(divide="ignore", invalid="ignore"):
                ratio = G / (qn[i0:i1, None] * qn[None, :])
            # non-finite ratios (zero-norm rows) stay candidates so the
            # exact Spark filter decides them exactly as the join did
            cand = (ratio >= lo) | ~np.isfinite(ratio)
            cand &= cols[None, :] < np.arange(i0, i1)[:, None]
            ai, bj = np.nonzero(cand)
            if len(ai):
                out_a.append(ids[ai + i0])
                out_d.append(G[ai, bj])
                out_na.append(qn[ai + i0])
                out_nb.append(qn[bj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_a),
                "idot": np.concatenate(out_d),
                "qn_a": np.concatenate(out_na),
                "qn_b": np.concatenate(out_nb),
            }
        )

    cand = (
        mok.select("cell", "vec_id", "qvec", "qn", "sim_centroid")
        .groupBy("cell")
        .applyInPandas(_cand_pairs, "vec_id long, idot double, qn_a double, qn_b double")
    )
    dom = (
        cand.filter(
            F.round(F.col("idot") / (F.col("qn_a") * F.col("qn_b")), 6) >= tau
        )
        .select("vec_id")
        .distinct()
        .withColumn("_dom", F.lit(True))
    )
    return (
        m.join(dom, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "sim_centroid",
            F.col("_dom").isNull().alias("kept"),
        )
    )


def sql_semdedup(
    corpus_sql: str,
    tau: float = SEMDEDUP_TAU,
    ncells: int = IVF_CELLS,
    dim: int = 64,
    max_cell: int = SEMDEDUP_MAX_CELL,
) -> str:
    """DuckDB twin of semdedup(). ``corpus_sql`` must yield
    (vec_id BIGINT, dvec DOUBLE[]) — the double-cast embedding."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    n AS (
      SELECT vec_id, dvec, sqrt({sql_dot("dvec", "dvec", dim)}) AS nn FROM corpus),
    nr AS (
      SELECT vec_id, list_transform(dvec, x -> x / nn) AS nrm FROM n),
    q AS (
      SELECT vec_id,
             list_transform(nrm, x -> CAST(round(x * {SEMDEDUP_QUANT}) AS BIGINT)) AS qvec,
             CAST({sql_ivf_cell("nrm", ncells, dim)} AS BIGINT) AS cell
      FROM nr),
    cent AS (
      SELECT cell, i AS pos, sum(qvec[i]) AS s
      FROM q, range(1, {dim + 1}) r(i) GROUP BY 1, 2),
    ca AS (SELECT cell, list(s ORDER BY pos) AS cvec FROM cent GROUP BY cell),
    m AS (
      SELECT q.vec_id, q.cell, q.qvec,
             {sql_cosine("q.qvec", "ca.cvec", dim)} AS sim_centroid
      FROM q JOIN ca USING (cell)),
    ok AS (
      SELECT cell FROM m GROUP BY cell HAVING count(*) <= {max_cell}),
    dom AS (
      SELECT DISTINCT a.vec_id FROM m a JOIN ok ON a.cell = ok.cell JOIN m b
      ON a.cell = b.cell
         AND (b.sim_centroid < a.sim_centroid
              OR (b.sim_centroid = a.sim_centroid AND b.vec_id < a.vec_id))
      WHERE {sql_cosine("a.qvec", "b.qvec", dim)} >= {tau})
    SELECT m.vec_id, m.cell, m.sim_centroid, (dom.vec_id IS NULL) AS kept
    FROM m LEFT JOIN dom USING (vec_id)
    """


def ann_topk_ivf(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    ncells: int = IVF_CELLS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search (nprobe=1): score only the probe's cell. At scale the
    corpus is written partitioned by `cell`, so a probe reads
    ~|corpus|/ncells rows; recall is tuned by ncells/nprobe with the
    brute-force tier as referee."""
    celled = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        ivf_cell(F.col(vec_col), ncells, dim).alias("cell"),
    )
    probes = F.broadcast(
        celled.filter(F.col("vec_id").isin(probe_ids)).select(
            F.col("vec_id").alias("probe_id"),
            F.col("_v").alias("_pv"),
            F.col("cell"),
        )
    )
    scored = (
        celled.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", cosine(F.col("_pv"), F.col("_v")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cell", "vec_id", "cos_sim", "rnk")
    )


# -- deterministic k-means IVF trainer (VERDICT r1 next-round #10) ----------------
# Lloyd's algorithm made bit-reproducible across Spark AND the DuckDB oracle:
# every arithmetic step is exact-integer — embeddings quantize to 1e-6 micro
# units (BIGINT), distances are integer sums of squares (argmin tie-break by
# cell id), and the centroid update rounds the exact integer sum / count back
# to micro units via ONE explicit integer rule (_div_half_away — ADVICE r2:
# Python round() is half-even while DuckDB round() is half-away, so the float
# quotient path could diverge on exact-.5 quotients; the integer formula
# can't). Init is digest60-seeded (the ncells vectors with smallest md5 of
# 'seed:'||vec_id). No RNG, no float accumulation order anywhere, so a fixed
# iteration count yields identical centroids in both engines.
#
# Production shape (VERDICT r2 next-round #2): training runs over a
# deterministic digest-sample (md5('ivfsample:'||vec_id) % sample_mod == 0)
# with ncells derived from the training-set size (≈√n, clamped) — the full
# corpus is only scanned once, for the final cell assignment. The offline
# job is train_ivf_codebook() (persist the small codebook table, broadcast
# it at search time); the registered query uses the same sampled derivation
# inline so the DuckDB oracle can re-derive the codebook from the raw table.

KMEANS_ITERS = 3
QUANT = 1_000_000  # micro-unit quantization for exact-integer training
IVF_SAMPLE_MOD = 4  # default training sample: 1/4 of the corpus (≫ at 100 TB)
IVF_MIN_CELLS, IVF_MAX_CELLS = 4, 256  # clamp for derived ncells = isqrt(n_train)


def _quant_col(vec: Column) -> Column:
    """array<float> → array<long> micro units. Spark F.round is HALF_UP
    (half away from zero) and DuckDB round() is half-away too, so the two
    quantizations agree exactly."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def _div_half_away(s: int, n: int) -> int:
    """round(s/n) half away from zero in exact integers (n > 0)."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((2 * -s + n) // (2 * n))


def _sql_div_half_away(s: str, n: str) -> str:
    """DuckDB twin of _div_half_away — all `//` operands kept non-negative
    so floor-vs-truncate ambiguity can't matter."""
    return (
        f"CASE WHEN ({s}) >= 0 THEN (2*({s}) + ({n})) // (2*({n})) "
        f"ELSE -((2*(-({s})) + ({n})) // (2*({n}))) END"
    )


def derive_ncells(n_train: int) -> int:
    """Corpus-scaled cell count: isqrt(n_train) clamped to [4, 256].

    The SQL twin uses floor(sqrt(n::DOUBLE)) — identical to isqrt for any
    n ≲ 2^52 because IEEE sqrt is correctly rounded (a perfect square's
    root is exact; a near-miss is ~1/(2k) below k, far beyond half an ulp).
    """
    import math

    return max(IVF_MIN_CELLS, min(IVF_MAX_CELLS, math.isqrt(max(n_train, 1))))


def _int_dist(qarr: Column, cq: list[int]) -> Column:
    """Σ (q_d - cq_d)² as exact long (|q| ≲ 1e7 ⇒ sum < 2^63 at dim 64)."""
    lit = F.array(*[F.lit(int(v)) for v in cq])
    return F.aggregate(
        F.zip_with(qarr, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign_cells(q: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """(vec_id, q) + centroid dict → (vec_id, q, cell) by integer argmin.

    Centroids embed as literal arrays — pure map-side codegen, right for a
    SMALL fixed codebook (ivf_cell's 8 md5 cells). For trained codebooks
    whose ncells scales with the corpus, use _assign_cells_join: the
    literal tree is ncells·dim nodes and Catalyst planning + Janino
    compile time grows with it (measured: it dominated the sf0.1 trained
    query), while the join formulation is constant-size."""
    entries = [
        F.struct(_int_dist(F.col("q"), cq).alias("d"), F.lit(c).alias("c"))
        for c, cq in sorted(cents.items())
    ]
    return q.withColumn("cell", F.array_min(F.array(*entries))["c"].cast("int"))


def _cents_df(spark, cents: dict[int, list[int]]) -> DataFrame:
    """Codebook dict → broadcast-ready (cell, cq:array<long>) frame."""
    rows = [(int(c), [int(v) for v in cq]) for c, cq in sorted(cents.items())]
    return spark.createDataFrame(rows, "cell int, cq array<bigint>")


def _pair_dist() -> Column:
    """Σ (q_d - cq_d)² between the row's q and the joined centroid's cq."""
    return F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign_cells_join(q: DataFrame, cents: dict[int, list[int]], *extra_cols: str) -> DataFrame:
    """(vec_id, q[, extra...]) → (vec_id, q[, extra...], cell) via a
    broadcast codebook join: every row meets all ncells centroids
    (BroadcastNestedLoopJoin — map-side, no corpus shuffle), integer
    distances reduce map-side to one min-struct per vec_id, so exactly one
    row per input crosses the one shuffle. Identical argmin + (dd, cell)
    tie-break as _assign_cells; plan size is independent of ncells."""
    cdf = F.broadcast(_cents_df(q.sparkSession, cents))
    keep = ["q", *extra_cols]
    return (
        q.join(cdf)
        .select(
            "vec_id",
            *keep,
            F.struct(_pair_dist().alias("d"), F.col("cell").alias("c")).alias("_e"),
        )
        .groupBy("vec_id")
        .agg(F.min("_e").alias("_m"), *[F.first(c).alias(c) for c in keep])
        .select("vec_id", *keep, F.col("_m.c").cast("int").alias("cell"))
    )


PCA_QUANT = 1000  # milli-unit quantization for exact-integer power iteration
PCA_ITERS = 4


def pca_v0(dim: int = 64) -> list[int]:
    """Deterministic power-iteration start vector in milli units —
    digest-derived like the LSH plane family, re-derivable by the oracle:
    v0_d = (digest60('pca:' || d) % 2001) - 1000."""
    from .hashing import digest60_py

    return [(digest60_py(f"pca:{d}") % 2001) - 1000 for d in range(dim)]


def power_iteration_topvec(
    emb: DataFrame,
    iters: int = PCA_ITERS,
    dim: int = 64,
    vec_col: str = "embedding",
) -> list[int]:
    """Top singular direction of the (uncentered) embedding matrix via
    exact-integer power iteration — the distributed-linear-algebra sibling
    of kmeans_centroids, and like the BPE trainer each iteration collects
    ONE aggregated 64-value model row, never data rows.

    Arithmetic contract (both engines): embeddings quantize to milli
    units (round half-away — matches DuckDB round); per-row score
    s = Σ x_d·v_d and the per-dim accumulations u_d = Σ s·x_d stay in
    int64 (|x| ≲ 10³, |v| ≤ 10³, dim 64 ⇒ |s| ≤ 6.4e7, row term ≤ 6.4e10;
    safe to ~10⁷ rows per job — production re-blocks/renormalizes per
    partition beyond that); renormalization is Chebyshev (divide by
    max|u|, _div_half_away) so no sqrt ever crosses the engines.

    On a near-flat synthetic spectrum ``iters=4`` lands ≥0.85 of the top
    Rayleigh quotient (pinned in pytest); real corpora with a dominant
    direction converge geometrically in the spectral gap.
    """
    xq = emb.select(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * PCA_QUANT).cast("long"),
        ).alias("xq")
    ).persist()
    v = pca_v0(dim)
    for _ in range(iters):
        vlit = F.array(*[F.lit(int(c)) for c in v])
        s = F.aggregate(
            F.zip_with(F.col("xq"), vlit, lambda x, vd: x * vd),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        scored = xq.select("xq", s.alias("_s"))
        row = scored.agg(
            *[
                F.sum(F.element_at("xq", d + 1) * F.col("_s")).alias(f"u{d}")
                for d in range(dim)
            ]
        ).collect()[0]  # ONE 64-value model row per iteration — not data
        u = [int(row[f"u{d}"]) for d in range(dim)]
        m = max(abs(c) for c in u) or 1
        v = [_div_half_away(c * PCA_QUANT, m) for c in u]
    xq.unpersist()
    return v


def sql_power_iteration(src: str, iters: int = PCA_ITERS, dim: int = 64) -> str:
    """DuckDB twin: the same iterations unrolled as CTE text (the BPE-
    trainer oracle pattern). ``src`` must expose (vec_id, embedding).
    Yields CTE body text ending in a `vfin(d, v)` relation."""
    from .hashing import sql_digest60

    d60 = sql_digest60("'pca:' || CAST(r.d AS VARCHAR)")
    ctes = [
        f"q AS (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {PCA_QUANT}) AS BIGINT)) AS xq "
        f"FROM {src})",
        f"x AS (SELECT vec_id, CAST(r.d AS BIGINT) AS d, xq[CAST(r.d AS INT) + 1] AS xv "
        f"FROM q, range({dim}) r(d))",
        f"v0 AS (SELECT CAST(r.d AS BIGINT) AS d, "
        f"({d60}) % 2001 - 1000 AS v "
        f"FROM range({dim}) r(d))",
    ]
    prev = "v0"
    for i in range(1, iters + 1):
        ctes.append(
            f"s{i} AS (SELECT vec_id, CAST(sum(x.xv * {prev}.v) AS BIGINT) AS s "
            f"FROM x JOIN {prev} USING (d) GROUP BY 1)"
        )
        ctes.append(
            f"u{i} AS (SELECT d, CAST(sum(s{i}.s * x.xv) AS BIGINT) AS u "
            f"FROM x JOIN s{i} USING (vec_id) GROUP BY 1)"
        )
        ctes.append(f"m{i} AS (SELECT greatest(max(abs(u)), 1) AS m FROM u{i})")
        nxt = f"v{i}" if i < iters else "vfin"
        ctes.append(
            f"{nxt} AS (SELECT d, {_sql_div_half_away(f'u * {PCA_QUANT}', 'm')} AS v "
            f"FROM u{i}, m{i})"
        )
        prev = nxt
    return ",\n    ".join(ctes)


def kmeans_centroids(
    emb: DataFrame,
    ncells: int | None = IVF_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    distributed: bool = False,
) -> dict[int, list[int]]:
    """Train micro-unit integer centroids {cell: [cq_0..cq_dim-1]}.

    ``sample_mod`` restricts training to the deterministic digest-sample
    md5('ivfsample:'||vec_id) % sample_mod == 0 (the 100 TB shape: Lloyd
    over ~corpus/sample_mod rows, full corpus touched only by the caller's
    final assignment). ``ncells=None`` derives the cell count from the
    training-set size (derive_ncells ≈ √n, clamped) — mirrored by the
    oracle's scalar-subquery CTE.

    Default path = the faiss shape: ONE Spark job collects the bounded
    sample (pick sample_mod so it fits a driver — ≤ ~10M×dim int64), then
    Lloyd runs in vectorized numpy int64. Because every step is exact
    integer arithmetic, the result is bit-identical to ``distributed=True``
    (per-iteration Spark jobs — the escape hatch when even the sample is
    cluster-sized); the equality is pinned in
    tests/test_datapipe.py::test_kmeans_driver_equals_distributed.
    """
    from ..datapipe.hashing import digest60

    src = emb.select(F.col(id_col).alias("vec_id"), _quant_col(F.col(vec_col)).alias("q"))
    if sample_mod is not None:
        src = src.filter(
            digest60(F.concat(F.lit("ivfsample:"), F.col("vec_id").cast("string")))
            % sample_mod
            == 0
        )
    if not distributed:
        return _kmeans_numpy(src.collect(), ncells, iters, dim)
    if sample_mod is not None:
        src = src.persist()
    try:
        if ncells is None:
            ncells = derive_ncells(src.count())
        # seed pick is a distributed top-k (TakeOrderedAndProject), not a
        # global window — no single-partition sort at corpus scale
        seeds = (
            src.withColumn(
                "_h", digest60(F.concat(F.lit("seed:"), F.col("vec_id").cast("string")))
            )
            .orderBy("_h", "vec_id")
            .limit(ncells)
            .collect()
        )
        cents = {i: [int(v) for v in r["q"]] for i, r in enumerate(seeds)}
        for _ in range(iters):
            assigned = _assign_cells_join(src, cents)
            rows = (
                assigned.groupBy("cell")
                .agg(
                    F.count("*").alias("_n"),
                    *[F.sum(F.element_at("q", d + 1)).alias(f"_s{d}") for d in range(dim)],
                )
                .collect()
            )
            cents = {
                int(r["cell"]): [
                    _div_half_away(int(r[f"_s{d}"]), int(r["_n"])) for d in range(dim)
                ]
                for r in rows
            }
        return cents
    finally:
        if sample_mod is not None:
            src.unpersist()


def _kmeans_numpy(
    rows, ncells: int | None, iters: int, dim: int
) -> dict[int, list[int]]:
    """Driver-side exact-int64 Lloyd over the collected sample — step-for-
    step twin of the distributed loop (digest60 seed order, argmin with
    (dd, cell) tie-break, _div_half_away centroid update, empty cells drop
    out), so both paths and the DuckDB oracle produce identical codebooks."""
    import numpy as np

    from ..datapipe.hashing import digest60_py

    if ncells is None:
        ncells = derive_ncells(len(rows))
    order = sorted(range(len(rows)), key=lambda i: (digest60_py(f"seed:{rows[i]['vec_id']}"), rows[i]["vec_id"]))
    Q = np.array([rows[i]["q"] for i in order], dtype=np.int64)
    cents = {i: Q[i].copy() for i in range(min(ncells, len(rows)))}
    qsq = (Q * Q).sum(axis=1)
    for _ in range(iters):
        ids = sorted(cents)
        C = np.stack([cents[c] for c in ids])
        # ||q-c||² = q·q - 2 q·c + c·c, all int64 (|q| ≤ ~2e6, dim 64 ⇒ no overflow)
        dist = qsq[:, None] - 2 * (Q @ C.T) + (C * C).sum(axis=1)[None, :]
        pos = dist.argmin(axis=1)  # first min == lowest cell id (ids sorted)
        S = np.zeros((len(ids), Q.shape[1]), dtype=np.int64)
        np.add.at(S, pos, Q)
        n = np.bincount(pos, minlength=len(ids)).astype(np.int64)
        cents = {}
        for j, c in enumerate(ids):
            if n[j] == 0:
                continue  # cell lost all members: drops out (both engines)
            s, nn = S[j], n[j]
            cents[c] = np.where(
                s >= 0, (2 * s + nn) // (2 * nn), -((2 * -s + nn) // (2 * nn))
            )
    return {int(c): [int(v) for v in cq] for c, cq in cents.items()}


def train_ivf_codebook(
    spark,
    emb: DataFrame,
    path: str | None = None,
    ncells: int | None = None,
    iters: int = KMEANS_ITERS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = IVF_SAMPLE_MOD,
) -> dict[int, list[int]]:
    """OFFLINE codebook trainer — the production entry point for trained
    IVF at corpus scale (VERDICT r2 next-round #2): Lloyd over the
    digest-sample with corpus-scaled ncells, optionally persisted as a
    tiny (cell, d, cq) parquet table that search jobs load + broadcast
    (load_ivf_codebook) instead of retraining per query."""
    cents = kmeans_centroids(emb, ncells, iters, dim, id_col, vec_col, sample_mod)
    if path is not None:
        rows = [
            (int(c), int(d), int(cq))
            for c, vec in sorted(cents.items())
            for d, cq in enumerate(vec)
        ]
        spark.createDataFrame(rows, "cell int, d int, cq long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
    return cents


def load_ivf_codebook(spark, path: str) -> dict[int, list[int]]:
    """Read a train_ivf_codebook parquet back into {cell: [cq...]} — the
    codebook is ncells·dim rows (tiny), collected once and embedded as
    literals so search stays pure codegen arithmetic."""
    rows = spark.read.parquet(path).collect()
    cents: dict[int, dict[int, int]] = {}
    for r in rows:
        cents.setdefault(int(r["cell"]), {})[int(r["d"])] = int(r["cq"])
    return {c: [by_d[d] for d in sorted(by_d)] for c, by_d in cents.items()}


def ann_topk_ivf_trained(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    ncells: int | None = IVF_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    nprobe: int = 1,
    cents: dict[int, list[int]] | None = None,
) -> DataFrame:
    """IVF search against k-means-trained centroids; same search shape as
    ann_topk_ivf, only the codebook differs.

    ``cents`` takes a pre-trained codebook (train_ivf_codebook — the
    production path: training is an offline job, search only broadcasts
    the ncells·dim literals). Without it, training runs here over the
    ``sample_mod`` digest-sample. ``nprobe`` scans the probe's nearest
    nprobe cells (the standard IVF recall knob — with corpus-scaled
    ncells the per-cell population shrinks, so recall is bought back by
    probing more cells, not by fewer/fatter cells)."""
    if cents is None:
        cents = kmeans_centroids(emb, ncells, iters, dim, id_col, vec_col, sample_mod)
    src = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        _quant_col(F.col(vec_col)).alias("q"),
    )
    celled = _assign_cells_join(src, cents, "_v").drop("q")
    # probe → its nprobe nearest cells, ranked by the same (dd, cell)
    # total order; probes are few, so the window is driver-scale work
    pw = Window.partitionBy("probe_id").orderBy(F.col("_e.d").asc(), F.col("_e.c").asc())
    probes = F.broadcast(
        src.filter(F.col("vec_id").isin(probe_ids))
        .select(F.col("vec_id").alias("probe_id"), F.col("_v").alias("_pv"), "q")
        .join(F.broadcast(_cents_df(emb.sparkSession, cents)))
        .select(
            "probe_id",
            "_pv",
            F.struct(_pair_dist().alias("d"), F.col("cell").alias("c")).alias("_e"),
        )
        .withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= min(nprobe, len(cents)))
        .select("probe_id", "_pv", F.col("_e.c").cast("int").alias("cell"))
    )
    scored = (
        celled.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", cosine(F.col("_pv"), F.col("_v")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cell", "vec_id", "cos_sim", "rnk")
    )


def sql_kmeans_ctes(
    ncells: int | None = IVF_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = 64,
    sample_mod: int | None = None,
) -> str:
    """DuckDB CTE chain re-deriving the EXACT trained centroids and final
    cell assignment (table `cells_`(vec_id, cell), plus `distF`(vec_id,
    cell, dd) for nprobe probing) — integer arithmetic mirrors
    kmeans_centroids step for step, including the _div_half_away centroid
    rounding, the digest-sampled training set (`tq`), and the
    √n-derived cell count (scalar subquery on the sample size)."""
    seed_h = sql_digest60("'seed:' || vec_id::VARCHAR")
    if sample_mod is not None:
        samp_h = sql_digest60("'ivfsample:' || vec_id::VARCHAR")
        tvecs = f"SELECT vec_id FROM embeddings WHERE ({samp_h}) % {sample_mod} = 0"
    else:
        tvecs = "SELECT vec_id FROM embeddings"
    nc_expr = (
        f"GREATEST({IVF_MIN_CELLS}, LEAST({IVF_MAX_CELLS}, "
        "CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS INT)))"
        if ncells is None
        else str(ncells)
    )
    ctes = [
        f"tvecs AS ({tvecs})",
        f"nc AS (SELECT {nc_expr} AS k FROM tvecs)",
        f"""qrows AS (
      SELECT vec_id, CAST(i AS INT) AS d,
             CAST(round(CAST(embedding[i] AS DOUBLE) * {QUANT}) AS BIGINT) AS q
      FROM embeddings, range(1, {dim + 1}) r(i))""",
        """tq AS (
      SELECT q.* FROM qrows q JOIN tvecs t USING (vec_id))""",
        f"""init AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY {seed_h}, vec_id) - 1 AS INT) AS cell
      FROM tvecs
      QUALIFY row_number() OVER (ORDER BY {seed_h}, vec_id) <= (SELECT k FROM nc))""",
        """cent0 AS (
      SELECT i.cell, q.d, q.q AS cq FROM init i JOIN tq q USING (vec_id))""",
    ]
    prev = "cent0"
    cq_update = _sql_div_half_away("sum(q.q)", "count(*)")
    for t in range(1, iters + 1):
        ctes.append(f"""dist{t} AS (
      SELECT q.vec_id, c.cell, sum((q.q - c.cq) * (q.q - c.cq)) AS dd
      FROM tq q JOIN {prev} c USING (d) GROUP BY 1, 2)""")
        ctes.append(f"""assign{t} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS rn
        FROM dist{t}) WHERE rn = 1)""")
        ctes.append(f"""cent{t} AS (
      SELECT a.cell, q.d, CAST({cq_update} AS BIGINT) AS cq
      FROM assign{t} a JOIN tq q USING (vec_id) GROUP BY 1, 2)""")
        prev = f"cent{t}"
    ctes.append(f"""distF AS (
      SELECT q.vec_id, c.cell, sum((q.q - c.cq) * (q.q - c.cq)) AS dd
      FROM qrows q JOIN {prev} c USING (d) GROUP BY 1, 2)""")
    ctes.append("""cells_ AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS rn
        FROM distF) WHERE rn = 1)""")
    return ",\n    ".join(ctes)


def ann_topk_lsh(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    nplanes: int | None = NPLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via MULTI-PROBE LSH: score the probe's own bucket
    plus every bucket at Hamming distance 1 (nplanes+1 buckets total).

    Single-bucket probing at 2^nplanes buckets over-prunes (measured 4%
    recall@5 on the 500-vector test table); multi-probe recovers the
    near-boundary neighbors that one flipped hyperplane sign hides, while
    still reading only (nplanes+1)/2^nplanes of the corpus. At 100 TB the
    bucketed table is written partitioned by `bucket`, so each probed
    bucket is one partition read. ``nplanes=None`` derives the plane count
    from the corpus size (derive_nplanes; constants are the floor).
    """
    if nplanes is None:
        nplanes = derive_nplanes(approx_corpus_size(emb, id_col))
    bucketed = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        lsh_bucket(F.col(vec_col), nplanes).alias("bucket"),
    )
    masks = [0] + [1 << p for p in range(nplanes)]
    probes = F.broadcast(
        bucketed.filter(F.col("vec_id").isin(probe_ids))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("_v").alias("_pv"),
            F.col("bucket").alias("_pb"),
        )
        .withColumn(
            "bucket",
            F.explode(F.array(*[F.col("_pb").bitwiseXOR(F.lit(m)) for m in masks])),
        )
        .drop("_pb")
    )
    scored = (
        bucketed.join(probes, "bucket")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", cosine(F.col("_pv"), F.col("_v")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "bucket", "vec_id", "cos_sim", "rnk")
    )


# -- Product Quantization (PQ) ANN ---------------------------------------------
# The memory-bound 100 TB tier: each 64-dim float vector compresses to
# PQ_M sub-codes (4 subspaces × 16 codes — 4 bits each, 2 bytes per vector
# vs 256), and search runs against the codes with an asymmetric-distance
# (ADC) lookup table built once per probe. Sub-codebooks are TRAINED — the
# same exact micro-unit-integer Lloyd as the IVF tier (_kmeans_numpy), run
# once per subspace on the dim-slice — so encoding, LUTs, and ADC
# distances are exact int64 arithmetic that Spark, DuckDB, and numpy
# reproduce bit-for-bit. At corpus scale training runs offline on the
# digest-sample (sample_mod, same contract as kmeans_centroids) and the
# tiny codebook (PQ_M·PQ_KSUB·PQ_DSUB ints) ships to search jobs as
# literals, like train_ivf_codebook/load_ivf_codebook.

PQ_M = 4  # subspaces
PQ_DSUB = 16  # dims per subspace (PQ_M * PQ_DSUB = embedding dim)
PQ_KSUB = 16  # codes per subspace -> 4 bits each


def pq_train(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = KMEANS_ITERS,
    sample_mod: int | None = None,
) -> dict[int, dict[int, list[int]]]:
    """{subspace m: {code c: [cq..]}} — one exact-integer Lloyd per
    dim-slice over ONE collected (digest-sampled) training set. Seed order
    is the global (digest60('seed:'||vec_id), vec_id) ranking, identical
    for every subspace; empty cells drop out per (m, cell) — both
    reproduced by the SQL twin (sql_pq_ctes)."""
    from ..datapipe.hashing import digest60

    src = emb.select(
        F.col(id_col).alias("vec_id"), _quant_col(F.col(vec_col)).alias("qq")
    )
    if sample_mod is not None:
        src = src.filter(
            digest60(F.concat(F.lit("ivfsample:"), F.col("vec_id").cast("string")))
            % sample_mod
            == 0
        )
    rows = src.collect()
    out: dict[int, dict[int, list[int]]] = {}
    for m in range(PQ_M):
        sub = [
            {"vec_id": r["vec_id"], "q": r["qq"][m * PQ_DSUB : (m + 1) * PQ_DSUB]}
            for r in rows
        ]
        out[m] = _kmeans_numpy(sub, PQ_KSUB, iters, PQ_DSUB)
    return out


_PQ_FAR = 1 << 62  # LUT sentinel for dropped-out cells (never argmin-selected)


def pq_encode(
    emb: DataFrame,
    cents: dict[int, dict[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, code0..code{M-1}) — the PQ compression pass. Pure map-side
    codegen (slice + integer argmin over struct array_min); zero shuffles,
    so it pipelines into whatever sink partitioning the caller wants. Each
    subspace slice is materialized as its own column first (HOF
    re-evaluation gotcha: an inlined slice would re-run per code)."""
    df = emb.select(
        F.col(id_col).alias("vec_id"), _quant_col(F.col(vec_col)).alias("q")
    )
    for m in range(PQ_M):
        df = df.withColumn(f"_s{m}", F.slice(F.col("q"), m * PQ_DSUB + 1, PQ_DSUB))
        entries = [
            F.struct(
                _int_dist(F.col(f"_s{m}"), cq).alias("d"),
                F.lit(c).alias("c"),
            )
            for c, cq in sorted(cents[m].items())
        ]
        df = df.withColumn(
            f"code{m}", F.array_min(F.array(*entries))["c"].cast("int")
        ).drop(f"_s{m}")
    return df.drop("q")


def ann_topk_pq(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    cents: dict[int, dict[int, list[int]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = KMEANS_ITERS,
    sample_mod: int | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes: per probe, a LUT of squared distances from
    the probe's sub-vector to every (subspace, code) centroid is computed
    ONCE (on the tiny broadcast probe frame); corpus rows then cost PQ_M
    array lookups each — never a dim-length dot product. The corpus side
    reads only the 2-byte codes at scale (encode is a separate pass /
    stored table); one top-k window per probe with (adc, vec_id) total
    order. ``cents`` takes a pre-trained codebook (pq_train — the offline
    production path); without it training runs here."""
    if cents is None:
        cents = pq_train(emb, id_col, vec_col, iters, sample_mod)
    codes = pq_encode(emb, cents, id_col, vec_col)
    probes = emb.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"), _quant_col(F.col(vec_col)).alias("q")
    )
    for m in range(PQ_M):
        probes = probes.withColumn(
            f"_s{m}", F.slice(F.col("q"), m * PQ_DSUB + 1, PQ_DSUB)
        )
        # LUT indexed by ORIGINAL cell id 0..PQ_KSUB-1; dropped-out cells
        # hold a far sentinel (codes never reference them)
        lut = [F.lit(_PQ_FAR).cast("long")] * PQ_KSUB
        for c, cq in sorted(cents[m].items()):
            lut[c] = _int_dist(F.col(f"_s{m}"), cq)
        probes = probes.withColumn(f"_lut{m}", F.array(*lut)).drop(f"_s{m}")
    probes = F.broadcast(probes.drop("q"))
    scored = codes.join(probes, F.col("vec_id") != F.col("probe_id")).withColumn(
        "adc_dist",
        sum(
            F.element_at(F.col(f"_lut{m}"), F.col(f"code{m}") + 1)
            for m in range(PQ_M)
        ).cast("long"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "vec_id", "adc_dist", "rnk")
    )


def sql_pq_ctes(iters: int = KMEANS_ITERS, dim: int = 64, sample_mod: int | None = None) -> str:
    """DuckDB CTE chain re-deriving the PQ training + encoding end-to-end:
    all PQ_M subspaces train in the SAME relational iteration (subspace m
    is just a grouping column), mirroring pq_train/_kmeans_numpy step for
    step — digest60 seed ranking, (dd, cell) argmin tie-break,
    _div_half_away centroid update, per-(m, cell) dropout. Exposes
    `codes`(vec_id, m, c) and `distF`(vec_id, m, cell, dd) for the
    encode/ADC queries."""
    seed_h = sql_digest60("'seed:' || vec_id::VARCHAR")
    if sample_mod is not None:
        samp_h = sql_digest60("'ivfsample:' || vec_id::VARCHAR")
        tvecs = f"SELECT vec_id FROM embeddings WHERE ({samp_h}) % {sample_mod} = 0"
    else:
        tvecs = "SELECT vec_id FROM embeddings"
    cq_update = _sql_div_half_away("sum(q.q)", "count(*)")
    ctes = [
        f"tvecs AS ({tvecs})",
        f"""sq AS (
      SELECT vec_id, CAST((i - 1) // {PQ_DSUB} AS INT) AS m,
             CAST((i - 1) % {PQ_DSUB} AS INT) AS d,
             CAST(round(CAST(embedding[i] AS DOUBLE) * {QUANT}) AS BIGINT) AS q
      FROM embeddings, range(1, {dim + 1}) r(i))""",
        "tsq AS (SELECT s.* FROM sq s JOIN tvecs t USING (vec_id))",
        f"""seeds AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY {seed_h}, vec_id) - 1 AS INT) AS cell
      FROM tvecs
      QUALIFY row_number() OVER (ORDER BY {seed_h}, vec_id) <= {PQ_KSUB})""",
        """cent0 AS (
      SELECT s.cell, q.m, q.d, q.q AS cq FROM seeds s JOIN tsq q USING (vec_id))""",
    ]
    prev = "cent0"
    for t in range(1, iters + 1):
        ctes.append(f"""dist{t} AS (
      SELECT q.vec_id, q.m, c.cell, sum((q.q - c.cq) * (q.q - c.cq)) AS dd
      FROM tsq q JOIN {prev} c ON c.m = q.m AND c.d = q.d GROUP BY 1, 2, 3)""")
        ctes.append(f"""assign{t} AS (
      SELECT vec_id, m, cell FROM (
        SELECT vec_id, m, cell,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, cell) AS rn
        FROM dist{t}) WHERE rn = 1)""")
        ctes.append(f"""cent{t} AS (
      SELECT a.cell, q.m, q.d, CAST({cq_update} AS BIGINT) AS cq
      FROM assign{t} a JOIN tsq q ON q.vec_id = a.vec_id AND q.m = a.m
      GROUP BY 1, 2, 3)""")
        prev = f"cent{t}"
    ctes.append(f"""distF AS (
      SELECT q.vec_id, q.m, c.cell, sum((q.q - c.cq) * (q.q - c.cq)) AS dd
      FROM sq q JOIN {prev} c ON c.m = q.m AND c.d = q.d GROUP BY 1, 2, 3)""")
    ctes.append("""codes AS (
      SELECT vec_id, m, cell AS c FROM (
        SELECT vec_id, m, cell,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, cell) AS rn
        FROM distF) WHERE rn = 1)""")
    return ",\n    ".join(ctes)


# -- NN-descent (graph-refinement ANN) ------------------------------------------
# [U Dong, Moses & Li 2011 "Efficient K-Nearest Neighbor Graph Construction
# for Generic Similarity Measures" (WWW'11) — the NN-descent local join:
# "a neighbor of a neighbor is also likely to be a neighbor"]: start from a
# RANDOM kNN graph (the paper's B_0; a partitioned seed like within-LSH-
# bucket top-k can never escape its buckets — neighbors-of-neighbors stay
# inside, measured in tests/test_batch57.py) and refine it by re-electing
# each node's top-k from its current neighborhood's forward ∪ reverse
# neighbors-of-neighbors.  Candidates always include the current graph, so
# per-node neighborhood quality is MONOTONE non-decreasing round over
# round; fixed round count + digest-derived seed ⇒ deterministic, so the
# DuckDB oracle re-derives the identical graph CTE-by-CTE.
#
# Scale shape: the dense rank comes from assign_global_seq (range-
# partitioned, no single-partition window); each round is equi-joins on
# node id + a groupBy-free top-k window partitioned by the HIGH-CARDINALITY
# node id.  Candidate growth per round is bounded by 2k + (2k)² per node.


def nn_descent(
    emb: DataFrame,
    k: int = 5,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, rnk, neighbor_id, cos_sim): the kNN graph after `rounds`
    NN-descent refinements of a digest-random seed graph."""
    from pyspark.sql import Window

    from ..schedule import assign_global_seq
    from .hashing import digest60

    v = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    # kept once: every round joins it twice, and each unkept read would
    # re-run the seq mapInPandas as its own concurrent stage. The returned
    # frame reads it lazily, so it cannot be released here; a local
    # checkpoint's blocks go with its RDD once that is garbage-collected,
    # where a persist() would stay cached until unpersisted
    ranked = (
        assign_global_seq(v, ["vec_id"], 0, npartitions=8)
        .select("vec_id", "_v", F.col("seq").alias("_rk"))
        .localCheckpoint()
    )
    n = ranked.groupBy().agg(F.count("*").alias("_n"))
    seed = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            "_rk",
            "_n",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_j"),
        )
        .select(
            F.col("vec_id").alias("src"),
            (
                digest60(
                    F.concat(
                        F.lit("nnd:"),
                        F.col("_rk").cast("string"),
                        F.lit(":"),
                        F.col("_j").cast("string"),
                    )
                )
                % F.col("_n")
            ).alias("_drk"),
            F.col("_rk").alias("_srk"),
        )
        .filter(F.col("_drk") != F.col("_srk"))
        .join(
            ranked.select(F.col("_rk").alias("_drk"), F.col("vec_id").alias("dst")),
            "_drk",
        )
        .select("src", "dst")
        .distinct()
    )
    ids = ranked.select("vec_id", "_v")
    # iterative graph: materialize each round (persist + count), or the
    # final plan embeds ~4^rounds copies of the seed lineage (the e1/e2
    # self-join references und twice per round) — the standard iterative-
    # algorithm checkpoint discipline at any scale
    g = seed.persist()
    g.count()
    for _ in range(rounds):
        und = g.unionByName(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        nn2 = (
            und.alias("e1")
            .join(
                und.select(
                    F.col("src").alias("_x"), F.col("dst").alias("dst2")
                ).alias("e2"),
                F.col("e1.dst") == F.col("_x"),
            )
            .filter(F.col("e1.src") != F.col("dst2"))
            .select(F.col("e1.src").alias("src"), F.col("dst2").alias("dst"))
        )
        cand = und.unionByName(nn2).distinct()
        scored = (
            cand.join(
                ids.select(F.col("vec_id").alias("src"), F.col("_v").alias("_sv")),
                "src",
            )
            .join(
                ids.select(F.col("vec_id").alias("dst"), F.col("_v").alias("_dv")),
                "dst",
            )
            .select("src", "dst", cosine(F.col("_sv"), F.col("_dv")).alias("cos_sim"))
        )
        w = Window.partitionBy("src").orderBy(
            F.col("cos_sim").desc(), F.col("dst").asc()
        )
        prev = g
        g = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .select("src", "dst")
            .persist()
        )
        g.count()
        prev.unpersist()
    final = (
        g.join(
            ids.select(F.col("vec_id").alias("src"), F.col("_v").alias("_sv")), "src"
        )
        .join(ids.select(F.col("vec_id").alias("dst"), F.col("_v").alias("_dv")), "dst")
        .select("src", "dst", cosine(F.col("_sv"), F.col("_dv")).alias("cos_sim"))
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst").asc())
    return final.withColumn("_r", F.row_number().over(w)).select(
        F.col("src").alias("vec_id"),
        F.col("_r").cast("long").alias("rnk"),
        F.col("dst").alias("neighbor_id"),
        "cos_sim",
    )


def sql_nn_descent_ctes(dim: int = 64, k: int = 5, rounds: int = 3) -> str:
    """DuckDB re-derivation of nn_descent (same rule, unrolled CTEs)."""
    from .hashing import sql_digest60

    drk = sql_digest60("'nnd:' || CAST(r.rk AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
    parts = [
        f"""
    ranked AS (SELECT vec_id, embedding,
                      row_number() OVER (ORDER BY vec_id) - 1 AS rk
               FROM embeddings),
    nn AS (SELECT count(*) AS n FROM ranked),
    g0 AS (
      SELECT DISTINCT r.vec_id AS src, d.vec_id AS dst
      FROM ranked r CROSS JOIN nn
      CROSS JOIN (SELECT unnest(range(0, {k})) AS j)
      JOIN ranked d ON d.rk = {drk} % nn.n
      WHERE {drk} % nn.n <> r.rk)"""
    ]
    prev = "g0"
    for t in range(1, rounds + 1):
        parts.append(
            f"""
    und{t} AS (SELECT DISTINCT src, dst FROM
               (SELECT src, dst FROM {prev}
                UNION ALL SELECT dst AS src, src AS dst FROM {prev})),
    cand{t} AS (SELECT DISTINCT src, dst FROM
                (SELECT src, dst FROM und{t}
                 UNION ALL
                 SELECT e1.src AS src, e2.dst AS dst
                 FROM und{t} e1 JOIN und{t} e2 ON e1.dst = e2.src
                 WHERE e1.src <> e2.dst)),
    sc{t} AS (
      SELECT c.src, c.dst,
             {sql_cosine("sv.embedding", "dv.embedding", dim)} AS cos_sim
      FROM cand{t} c
      JOIN embeddings sv ON sv.vec_id = c.src
      JOIN embeddings dv ON dv.vec_id = c.dst),
    g{t} AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos_sim DESC, dst ASC) AS r
        FROM sc{t}) WHERE r <= {k})"""
        )
        prev = f"g{t}"
    parts.append(
        f"""
    refined AS (
      SELECT src AS vec_id, CAST(r AS BIGINT) AS rnk, dst AS neighbor_id,
             cos_sim
      FROM (SELECT g.src, g.dst, sc.cos_sim,
                   row_number() OVER (PARTITION BY g.src
                                      ORDER BY sc.cos_sim DESC, g.dst ASC) AS r
            FROM {prev} g JOIN sc{rounds} sc
              ON sc.src = g.src AND sc.dst = g.dst)
      WHERE r <= {k})"""
    )
    return ",".join(parts)


# -- OOD support: nearest-centroid distance in exact micro-unit integers --------
# Same argmin rule as ivf_cell but EXACT-INTEGER end to end: vector and
# centroids quantize to 1e-6 micro units (one double multiply + round per
# element — the established deterministic step), the squared distance is
# an int64 sum of squared micro deltas, and the cell election compares
# integers — no double ever crosses an aggregation, so there is no ulp
# seam (the round(·,6)-then-scale form measurably split the engines by
# ±1 micro on scaled inputs).  d_u is in micro² units.


def ivf_cell_dist(vec: Column, ncells: int = IVF_CELLS, dim: int = 64) -> Column:
    """struct(d_u: long micro^2-units, c: int): nearest centroid + exact
    integer squared distance."""
    qv = F.transform(vec, lambda x: F.round(x.cast("double") * 1000000).cast("long"))
    entries = []
    for c in range(ncells):
        cq = F.array(
            *[F.lit(int(round(centroid_py(c, d) * 1000000))) for d in range(dim)]
        )
        dist = F.aggregate(
            F.zip_with(qv, cq, lambda x, m: (x - m) * (x - m)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        entries.append(F.struct(dist.alias("d"), F.lit(c).alias("c")))
    m = F.array_min(F.array(*entries))
    return F.struct(
        m["d"].cast("long").alias("d_u"), m["c"].cast("int").alias("c")
    )


def sql_ivf_cell_dist(vec: str, ncells: int = IVF_CELLS, dim: int = 64) -> str:
    """DuckDB twin of ivf_cell_dist: {'d_u': BIGINT, 'c': INT}."""
    dists = []
    for c in range(ncells):
        cents = ",".join(
            str(int(round(centroid_py(c, d) * 1000000))) for d in range(dim)
        )
        dists.append(
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> (CAST(round(CAST({vec}[i] AS DOUBLE) * 1000000) AS BIGINT)"
            f" - ([{cents}])[i]) "
            f"* (CAST(round(CAST({vec}[i] AS DOUBLE) * 1000000) AS BIGINT)"
            f" - ([{cents}])[i])))"
        )
    structs = ", ".join(f"{{'d': {d}, 'c': {c}}}" for c, d in enumerate(dists))
    return (
        f"struct_pack(d_u := CAST(list_min([{structs}])['d'] AS BIGINT), "
        f"c := CAST(list_min([{structs}])['c'] AS INT))"
    )
