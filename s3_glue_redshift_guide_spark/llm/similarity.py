"""L3 — similarity search over embedding columns.

* ``topk_bruteforce`` — exact cosine top-k: query set x corpus join with a
  per-query window top-k. Correct at any scale where |queries| x |corpus|
  compares are affordable (batch scoring, eval sets); the corpus never
  shuffles — the (small) query side broadcasts.
* ``lsh_topk`` — the scale path: random-hyperplane LSH. Each vector gets a
  b-bit signature (sign of dot with b fixed hyperplanes); candidates are
  corpus vectors sharing a signature band with the query, re-ranked
  exactly. Hyperplanes derive deterministically from a seed so results are
  reproducible run-to-run.
* ``ivf_topk`` / ``semantic_dedup_pairs`` — a k-means coarse quantizer
  (inverted lists) scopes the compares; ``pq_topk`` / ``ivfpq_topk`` add
  product-quantized codes for the candidate scan.

Each operator has one implementation. Exact scoring (brute force, LSH
and ADC re-rank) uses the sequential-fold vector primitives
(functions/vectors.py). The hot loops — coarse assignment
(``_nearest_kernel``), the fused IVF-PQ and PQ encode
(``_encode_kernel``), the Lloyd rounds that train both
quantizers (``_lloyd_kernel``), the PQ searches' ADC scan
(``_adc_scan_kernel``) and per-list pair scoring
(``_pairscore_kernel``) — are numpy kernels behind ``mapInPandas``
that repeat those folds' fp64 operations in the same order, so their
distances match the JVM folds bit for bit. Outputs are pinned by
golden digests (tests/test_llm_kernels.py) and the DuckDB oracle rows.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions.vectors import dot, l2_norm
from .dedup import _materialize


def _spread(df: DataFrame) -> DataFrame:
    """Full-width fan-out for the VECTOR operators — deliberately NOT
    the byte-capped ``dedup._spread`` (r12, measured): these call sites
    feed stages whose per-row work is multiplied by a broadcast factor
    (the ADC scan sums one distance-table lookup chain per QUERY per
    row; pair scoring is O(occupancy²) per list), so a width derived
    from input bytes under-provisions them. Measured at sf1 with the
    byte cap (width 21 instead of 32):
    semantic_dedup_pairs 13.2 -> 21.7 s, pq_topk 3.3 -> 4.2 s,
    ivfpq_topk 5.3 -> 6.7 s — reverted to defaultParallelism here while
    the featurization paths (work ∝ bytes) keep the sweep-validated
    cap. At cluster scale this is the same no-op-ish rebalance as
    always."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


#: quantizer-training observability: every Lloyd round of
#: ``_train_quantizers`` increments ``lloyd_rounds`` once — one Spark
#: job that updates every quantizer being trained, so a round that
#: trains the coarse centroids and the PQ codebooks together counts
#: once. The persisted-index probe path (llm/ann_index.py) pins this at
#: ZERO — the fact that separates "loads the banked quantizer" from
#: "silently retrains".
TRAIN_METRICS = {"lloyd_rounds": 0}


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (self-matches excluded).

    Ranking key is (rounded cosine DESC, neighbor id ASC): rounding to 6
    decimals makes the rank stable across engines' last-ulp float noise,
    and the id tiebreak makes it total.
    """
    # norms hoisted BELOW the join (r11): cosine(qv, cv) re-folds both
    # vector norms per PAIR; computing them in the side projections (the
    # join node blocks CollapseProject, so they stay per-row) drops the
    # per-pair work from three 64-element folds to one. Same sequential
    # folds in the same order — cos_sim stays bit-identical.
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = _spread(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit-free; only the sign is used)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def _signature(vec_col, planes: list[list[float]]):
    bits = [
        F.when(dot(vec_col, F.array(*[F.lit(x) for x in p])) > 0, 1).otherwise(0)
        for p in planes
    ]
    sig = F.lit(0).cast("bigint")
    for i, b in enumerate(bits):
        sig = sig + (b.cast("bigint") * F.lit(1 << i))
    return sig


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: bucket join on hyperplane-signature bands, exact re-rank
    within candidates. Recall grows with bands; compares drop from |Q|x|C|
    to |Q| x (bucket size) — the curve that matters at 10^9 vectors."""
    planes = hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    mask = (1 << width) - 1

    def banded(df, id_alias, norm_alias):
        sig = _signature(F.col(vec_col), planes)
        # barrier: the band explode reads __sig per band; without it
        # CollapseProject inlines the n_planes dot products per read.
        # The L2 norm rides the same barrier (r11): computed once per
        # VECTOR here instead of re-folded per candidate pair below —
        # 8 extra bytes per band row buys back two 64-element folds per
        # collision.
        return _materialize(
            df.select(
                F.col("*"),
                sig.alias("__sig"),
                l2_norm(F.col(vec_col)).alias(norm_alias),
            )
        ).select(
            F.col(id_alias[0]).alias(id_alias[1]),
            F.col(vec_col).alias(id_alias[2]),
            norm_alias,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("__sig", i * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("key"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(id_alias[1], id_alias[2], norm_alias, "bk.band", "bk.key")

    qb = banded(queries, (query_id, "query_id", "qv"), "__qn")
    cb = banded(_spread(corpus), (corpus_id, "neighbor_id", "cv"), "__cn")
    # Score in the band join's projection, THEN dedup on the three scalar
    # columns: a (query, neighbor) pair colliding in b bands is re-scored b
    # times (64 multiplies each — cheap, and deterministic so the copies are
    # identical), but the distinct exchange moves 24-byte rows instead of
    # two 64-float vectors (~512 B/row) — the term that dominates shuffle
    # volume at 10^9 vectors.
    scored = (
        qb.join(cb, ["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)`` on the driver or in a kernel.
    Catalyst routes a double through ``BigDecimal.valueOf``
    (``Double.toString``, the shortest round-trip decimal) and then
    ``setScale(6, HALF_UP)``; Python's ``repr`` is the same decimal and
    ``Decimal.quantize(..., ROUND_HALF_UP)`` the same rounding. The
    trailing ``+ 0.0`` folds a rounded ``-0.0`` to ``0.0``, because a
    BigDecimal has no negative zero. From 2^52 up a double is an
    integer, so it rounds to itself; that guard also passes NaN and
    infinities through, as Spark does, and keeps huge magnitudes out
    of the 28-digit ``Decimal`` context."""
    x = float(x)
    if not abs(x) < 2.0**52:
        return x + 0.0
    return float(Decimal(repr(x)).quantize(_Q6, ROUND_HALF_UP)) + 0.0


def _round6_all(a):
    """``_round6`` over every element of an fp64 array."""
    a = np.asarray(a, dtype=np.float64)
    return np.fromiter(map(_round6, a.ravel().tolist()), np.float64,
                       a.size).reshape(a.shape)


def _train_quantizers(corpus, corpus_id, vec_col, iters, n_lists=0,
                      dim=0, m=0, k_codes=0):
    """Lloyd's k-means for the IVF coarse quantizer (``n_lists``
    centroids) and/or the PQ codebooks (``m`` subspaces of ``k_codes``
    codewords each), trained in the SAME rounds. Returns ``(cents, pq)``;
    a quantizer that was not asked for comes back ``None``.

    Deterministic init: the first ``n_lists`` (resp. ``k_codes``)
    corpus vectors by id, from one ordered ``limit`` collect. The
    corpus is spread across all cores and pinned once
    (``_materialize``). Each round is ONE Spark job: ``_lloyd_kernel``
    assigns every row (coarse: cosine via ``_nearest_ids``; PQ: squared
    L2 per subspace via ``_pq_argmin_codes``) and emits one
    (count, fp64 sum) row per non-empty cluster of its partition, the
    sum taken in row order. The driver adds the partials in partition
    order, divides and rounds each component with ``_round6``: the same
    operations, in the same order, as Spark's partial and final
    ``avg`` followed by ``round(_, 6)``, so the centroids equal a
    groupBy-mean round bit for bit. Rounding to 6 decimals keeps
    last-ulp summation noise out of the next round's assignments. Only
    the per-cluster partials reach the driver, never the corpus; an
    empty cluster keeps its centroid."""
    n_init = max(n_lists, k_codes if m else 0)
    init = [
        [float(x) for x in r[0]]
        for r in corpus.orderBy(corpus_id).limit(n_init)
        .select(vec_col).collect()
    ]
    cents = init[:n_lists] if n_lists else None
    d = dim // m if m else 0
    pq = (
        [[v[j * d:(j + 1) * d] for v in init[:k_codes]] for j in range(m)]
        if m else None
    )
    if iters <= 0:
        return cents, pq
    # spread BEFORE the rounds: on a one-file local corpus the rounds
    # would otherwise run on one core. Only the vector column is pinned:
    # the round-robin spread places rows by their bytes, and the
    # partition partials (so the digest-pinned centroids) depend on
    # that placement.
    pinned = _materialize(
        _spread(corpus).select(F.col(vec_col).alias("__v"))
    )
    for _ in range(iters):
        TRAIN_METRICS["lloyd_rounds"] += 1
        parts = pinned.mapInPandas(
            _lloyd_kernel(cents, pq),
            schema="space int, key int, n long, s array<double>",
        ).collect()
        total: dict[tuple[int, int], tuple[int, np.ndarray]] = {}
        for r in parts:  # partition order, as Spark's final avg merge
            n, acc = total.get((r["space"], r["key"]), (0, 0.0))
            total[(r["space"], r["key"])] = (
                n + r["n"], acc + np.asarray(r["s"], dtype=np.float64)
            )

        def mean(space, key, old):
            if (space, key) not in total:
                return old  # empty cluster keeps its centroid
            n, acc = total[(space, key)]
            return [_round6(x) for x in (acc / n).tolist()]

        if cents is not None:
            cents = [mean(-1, i, c) for i, c in enumerate(cents)]
        if pq is not None:
            pq = [
                [mean(j, c, cb) for c, cb in enumerate(sub)]
                for j, sub in enumerate(pq)
            ]
    return cents, pq


def _lloyd_kernel(cents, pq):
    """mapInPandas kernel for one shared Lloyd round: assigns each row
    to its nearest coarse centroid (space -1) and to its nearest
    codeword in every PQ subspace (space j), and accumulates per
    cluster the count and the fp64 sum of the raw vector (or subspace
    slice) in row order across the partition's batches. Emits one row
    per non-empty (space, key) when the partition ends."""
    C = None if cents is None else np.asarray(cents, dtype=np.float64)
    cn = None if C is None else _cent_norms(C)
    P = None if pq is None else np.asarray(pq, dtype=np.float64)

    def fn(batches):
        import pandas as pd

        acc: dict[int, tuple[np.ndarray, np.ndarray]] = {}

        def add(space, keys, vals, k):
            n, s = acc.setdefault(
                space, (np.zeros(k, np.int64), np.zeros((k, vals.shape[1])))
            )
            n += np.bincount(keys, minlength=k)
            np.add.at(s, keys, vals)  # unbuffered: row order per cluster

        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = _f64(pdf["__v"])
            if C is not None:
                lists = _nearest_ids(raw, C, cn, 1)[0][:, 0]
                add(-1, lists, raw, len(C))
            if P is not None:
                d = P.shape[2]
                for j in range(P.shape[0]):
                    sl = slice(j * d, (j + 1) * d)
                    add(j, _pq_argmin_codes(raw[:, sl], P[j]), raw[:, sl],
                        P.shape[1])
        rows = [
            (space, key, int(n[key]), s[key].tolist())
            for space, (n, s) in sorted(acc.items())
            for key in np.nonzero(n)[0].tolist()
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["space", "key", "n", "s"])

    return fn


def kmeans_centroids(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer: ``k``
    centroids, cosine assignment, ``iters`` rounds of one Spark job each
    (see ``_train_quantizers``)."""
    return _train_quantizers(corpus, corpus_id, vec_col, iters, n_lists=k)[0]


def _cent_norms(C):
    """Centroid L2 norms with the same sequential fold as ``l2_norm``."""
    cn = np.zeros(C.shape[0])
    for d in range(C.shape[1]):
        cn = cn + C[:, d] * C[:, d]
    return np.sqrt(cn)


def _nearest_ids(vecs, C, cn, n_keep):
    """The ``n_keep`` nearest centroids of each row of ``vecs`` (fp64,
    rows x dim) by cosine distance, and the rows' L2 norms; see
    ``_nearest_kernel`` for why this equals the JVM fold bit for bit."""
    n, dim = vecs.shape
    acc = np.zeros(n)
    for d in range(dim):
        acc = acc + vecs[:, d] * vecs[:, d]
    vn = np.sqrt(acc)
    with np.errstate(divide="ignore", invalid="ignore"):
        D = np.empty((n, C.shape[0]))
        for j in range(C.shape[0]):
            cj = C[j]
            accd = np.zeros(n)
            for d in range(dim):
                accd = accd + vecs[:, d] * cj[d]
            D[:, j] = -(accd / (vn * cn[j]))
    return np.argsort(D, axis=1, kind="stable")[:, :n_keep], vn


def _f64(col):
    """A pandas column of float vectors as an fp64 matrix, each element
    read as float64 exactly like ``as_double`` on the stored embeddings:
    ``array<float>`` values widen exactly, ``array<double>`` values keep
    every bit."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _nearest_kernel(cents, vec_col: str, n_keep: int, norm: bool):
    """mapInPandas kernel for the coarse-quantizer assignment (r12,
    guide §4.2): the O(n*L) distance evaluation — the measured dominant
    superlinear term of the whole ANN family (BENCH_NOTES.md decade
    probe: exponent 0.89/decade at constant per-list occupancy) — moves
    from one interpreted JVM fold per (row, centroid) to numpy ops
    vectorized ACROSS rows while looping ACROSS dimensions, so every
    fp64 operation happens in exactly the order of the expression fold:

    * JVM ``dot``: zip_with products, then fold ``acc + x_d*y_d`` for
      d=0..dim-1  ->  numpy ``acc = acc + v[:, d] * c[d]`` per d.
    * JVM ``l2_norm``: fold ``acc + x_d*x_d`` then SQRT  ->  same loop,
      ``np.sqrt`` (both are IEEE-754 correctly-rounded).
    * distance ``-(dot / (vn * cn))``: same multiply/divide/negate
      order, elementwise.
    * ``array_sort`` over struct<d, list_id> with list_id ascending on
      ties  ->  stable argsort on d (list_id IS the column order, so
      stability == the tiebreak; NaN sorts last in both engines).

    Elements are read as float64 BEFORE arithmetic (``_f64``), exactly
    like ``as_double``. Assignments are therefore bit-identical to the same
    distances computed as a JVM fold — pinned by golden digests in
    tests/test_llm_kernels.py at two SFs, plus the oracle rows. (The r11
    Arrow experiment that LOST shipped both 256-byte vectors per
    candidate PAIR — 36M pairs at sf1; this kernel ships each vector
    ONCE per assignment pass, so the boundary cost is O(n) while the
    saved interpreted work is O(n*L).)

    Centroids travel in the function closure (k*dim doubles — the
    pickled command Spark already broadcasts per stage), so the plan
    stays O(1) in k*dim and no centroid frame is joined in."""
    C = np.asarray(cents, dtype=np.float64)  # k x dim
    cn = _cent_norms(C)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            nearest, vn = _nearest_ids(_f64(pdf[vec_col]), C, cn, n_keep)
            out = pdf.iloc[
                np.repeat(np.arange(n), nearest.shape[1])
            ].reset_index(drop=True)
            out["list_id"] = nearest.astype(np.int32).ravel()
            if norm:
                out["__avn"] = np.repeat(vn, nearest.shape[1])
            yield out

    return fn


def _nearest_lists(df, cents, vec_col, id_out, vec_out, n_keep,
                   norm_out=None):
    """Attach each row's ``n_keep`` nearest centroid ids as an exploded
    column — the IVF assignment pass, run by ``_nearest_kernel``: one
    Python boundary crossing per row instead of n_lists interpreted
    distance folds. The output is materialized so downstream consumers
    don't re-run the kernel. With ``norm_out`` the row's L2 norm rides
    along (r11): computed once per vector for the downstream candidate
    scoring instead of re-folded per candidate pair."""
    sel = df.select(F.col(id_out[0]).alias(id_out[1]),
                    F.col(vec_col).alias(vec_out))
    vec_type = dict(sel.dtypes)[vec_out]
    id_type = dict(sel.dtypes)[id_out[1]]
    schema = f"{id_out[1]} {id_type}, {vec_out} {vec_type}, list_id int"
    if norm_out:
        schema += ", __avn double"
    assigned = _materialize(
        sel.mapInPandas(
            _nearest_kernel(cents, vec_out, n_keep, bool(norm_out)),
            schema=schema,
        )
    )
    out_cols = [id_out[1], vec_out] + ([norm_out] if norm_out else [])
    if norm_out:
        assigned = assigned.withColumnRenamed("__avn", norm_out)
    return assigned.select(*out_cols, "list_id")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF-flat ANN: a k-means coarse quantizer partitions the corpus into
    ``n_lists`` inverted lists; each query probes its ``n_probe`` nearest
    lists and re-ranks exactly within them.

    The DISTRIBUTED SHAPE is what matters at 10^9 vectors: quantizer
    training moves k*dim scalars per round, corpus assignment is one
    broadcast-map pass, the search join touches only n_probe/n_lists of
    the corpus per query, and nothing is O(|Q|x|C|). ``kmeans_iters=0``
    degrades to the first-k-by-id quantizer.
    """
    cents = kmeans_centroids(corpus, corpus_id, vec_col, n_lists, kmeans_iters)
    cb = _nearest_lists(
        _spread(corpus), cents, vec_col, (corpus_id, "neighbor_id"), "cv", 1,
        norm_out="__cn",
    )
    qb = _nearest_lists(
        queries, cents, vec_col, (query_id, "query_id"), "qv", n_probe,
        norm_out="__qn",
    )
    scored = (
        qb.join(cb, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _pairscore_kernel(threshold: float, id_field: str = "id",
                      vec_field: str = "v", norm_field: str = "__vn"):
    """mapInPandas kernel scoring ALL co-resident pairs of each inverted
    list in numpy (r12, guide §8 "decide with small rows / move bytes
    once"): each vector crosses the Python boundary ONCE per probe
    assignment (~520 B/row), and the per-list pair grid is computed with
    per-dimension outer-product accumulation — the same fp64 op in the
    same order as the JVM fold, so every dot is bit-identical. (The r11
    Arrow experiment that LOST shipped both vectors per PAIR through
    Arrow — 36M x 512 B at sf1; this ships n x n_probe rows, three
    orders of magnitude less.)

    Rounding mirrors Spark's round(double, 6) exactly (``_round6``).
    Only near-threshold survivors pay the per-value Decimal cost — a raw
    cosine below threshold - 1e-6 cannot round up to the threshold
    (round moves a value by at most 5e-7), so the O(pairs) mask stays
    vectorized. The output is pinned on real data at two SFs by
    tests/test_llm_kernels.py (golden digests and an independent
    Spark-expression pair scorer) plus the oracle rows."""

    def score(batches):
        import pandas as pd

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        blk = 512  # row-block: bounds the temp to ~cache size
        for _, g in pdf.groupby("list_id", sort=False):
            n = len(g)
            if n < 2:
                continue
            # sort by id so index order == id order: only the upper
            # triangle (j > i) is ever computed — half the flops and
            # memory traffic of the full grid, and (id_a < id_b) comes
            # free from the indices
            g = g.sort_values(id_field, kind="mergesort")
            ids = g[id_field].to_numpy()
            vn = g[norm_field].to_numpy(dtype=np.float64)
            V = _f64(g[vec_field])
            out_a, out_b, out_c = [], [], []
            for i0 in range(0, n - 1, blk):
                i1 = min(i0 + blk, n)
                D = np.zeros((i1 - i0, n - i0))
                for d in range(V.shape[1]):
                    D = D + V[i0:i1, d][:, None] * V[i0:, d][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cs = D / (
                        vn[i0:i1][:, None] * vn[i0:][None, :]
                    )
                ia, ja = np.nonzero(
                    (cs >= threshold - 1e-6)
                    & (
                        np.arange(i0, i1)[:, None]
                        < np.arange(i0, n)[None, :]
                    )
                )
                for i, j in zip(ia.tolist(), ja.tolist()):
                    r = _round6(cs[i, j])
                    if r >= threshold:
                        out_a.append(ids[i0 + i])
                        out_b.append(ids[i0 + j])
                        out_c.append(r)
            if out_a:
                yield pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b, "cos_sim": out_c}
                )

    return score


def semantic_dedup_pairs(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_lists: int = 8,
    n_probe: int = 3,
    kmeans_iters: int = 2,
) -> DataFrame:
    """Embedding near-duplicate pairs over the FULL corpus via cluster
    scoping (the SemDeDup shape): a k-means coarse quantizer assigns every
    vector to its ``n_probe`` nearest lists, candidate pairs are vectors
    sharing a list, and candidates re-score exactly — emitted pairs all
    truly clear ``threshold`` (precision 1 by construction); recall is set
    by how often a near-dup pair co-occurs in a probed list (>1 probe
    catches pairs straddling a cluster boundary).

    Scale shape: compares ~ sum over lists of per-list co-residents, never
    corpus² — the all-pairs ``embedding_near_dup`` is the bounded-slice
    demo; THIS is the 10^9-vector path. The pair-dedup distinct keys on
    (id, id, cos) scalars, so no vector payload rides the exchange (same
    discipline as ``lsh_topk``)."""
    cents = kmeans_centroids(corpus, corpus_id, vec_col, n_lists, kmeans_iters)
    assigned = _nearest_lists(
        _spread(corpus), cents, vec_col, (corpus_id, "id"), "v", n_probe,
        norm_out="__vn",
    )
    # Per-list kernel scoring (r12): one shuffle of the assigned rows
    # keyed on list_id (explicit width so AQE's size-based coalescing
    # can't serialize the tiny-bytes/huge-work stage), then the whole
    # pair grid of each list scores in numpy — see _pairscore_kernel for
    # the bit-identity argument. Local parallelism is bounded by n_lists
    # (one list is indivisible in this shape); at production sizing
    # n_lists >= cores.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    idt = dict(assigned.dtypes)["id"]
    return (
        assigned.repartition(par, "list_id")
        .mapInPandas(
            _pairscore_kernel(threshold),
            schema=f"id_a {idt}, id_b {idt}, cos_sim double",
        )
        .distinct()
    )


# ------------------------- product quantization (PQ) -------------------
def _sq_dists(S, C):
    """Raw squared L2 between each row of ``S`` (fp64, rows x d) and
    each codeword of ``C`` (k x d), rows x k: the JVM fold
    ``acc + (x_t - c_t)^2`` from 0.0 in dimension order."""
    D = np.zeros((S.shape[0], C.shape[0]))
    for j in range(C.shape[0]):
        cj = C[j]
        acc = np.zeros(S.shape[0])
        for d in range(S.shape[1]):
            t = S[:, d] - cj[d]
            acc = acc + t * t
        D[:, j] = acc
    return D


def _pq_argmin_codes(S, C):
    """Per-row nearest-codeword index within ONE subspace, replicating
    Spark's semantics bit-for-bit: distances are the squared-L2 fold
    (``_sq_dists``) rounded like ``round(_, 6)``, and the winner is the
    (rounded distance, code) struct-sort minimum.

    Rounding can move a value by at most 5e-7, so the rounded argmin
    can differ from the raw argmin only when a competitor's raw
    distance sits within ~1e-6 of the raw minimum — those rare rows
    (ties included, broken by code order) fall back to the exact
    rounding Spark applies (``_round6``). Everything else stays
    vectorized."""
    n = S.shape[0]
    D = _sq_dists(S, C)
    best = np.argmin(D, axis=1)  # ties: lowest code (argmin is first)
    m0 = D[np.arange(n), best]
    close = (D <= (m0[:, None] + 2.01e-6)).sum(axis=1)
    for i in np.nonzero(close > 1)[0].tolist():
        cand = np.nonzero(D[i] <= m0[i] + 2.01e-6)[0]
        best[i] = min((_round6(D[i, j]), j) for j in cand.tolist())[1]
    return best


def _pq_codes(x, P):
    """The m PQ codes of each row of ``x`` (fp64, rows x dim) against
    codebooks ``P`` (m x k_codes x d), as an int32 rows x m matrix."""
    m, _, d = P.shape
    codes = np.empty((x.shape[0], m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = _pq_argmin_codes(x[:, j * d:(j + 1) * d], P[j])
    return codes


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks (Jégou et al., PQ): split ``dim``
    into ``m`` subspaces and learn ``k_codes`` centroids in each, all
    subspaces in the SAME Lloyd rounds (one Spark job per round, see
    ``_train_quantizers``). Squared-L2 assignment; deterministic init
    from slices of the first ``k_codes`` vectors by id. Returns
    ``cents[sub][code] -> [d floats]``."""
    return _train_quantizers(
        corpus, corpus_id, vec_col, iters, dim=dim, m=m, k_codes=k_codes
    )[1]


def pq_encode(
    df: DataFrame,
    cents,
    id_col: str,
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
) -> DataFrame:
    """Compress each vector to its m nearest-codeword indices — the
    8-byte-per-vector representation the candidate scan reads INSTEAD of
    the raw embeddings (64x smaller at m=8 codes vs 64 floats). Runs the
    encode kernel without a coarse quantizer: one boundary crossing per
    vector (see ``_encode_frame``)."""
    return _encode_frame(df, None, cents, id_col, vec_col).select(
        F.col("neighbor_id").alias(out_id), "codes"
    )


def _encoder(cents, pq):
    """The fused IVF-PQ encode of an fp64 row block: each row's nearest
    coarse list (``_nearest_ids``; list 0 for every row when ``cents``
    is None) and its m PQ codes (``_pq_codes``)."""
    C = None if cents is None else np.asarray(cents, dtype=np.float64)
    cn = None if C is None else _cent_norms(C)
    P = np.asarray(pq, dtype=np.float64)

    def encode(x):
        lists = (
            np.zeros(len(x), np.int32) if C is None
            else _nearest_ids(x, C, cn, 1)[0][:, 0].astype(np.int32)
        )
        return lists, _pq_codes(x, P)

    return encode


def _encode_kernel(cents, pq):
    """mapInPandas kernel for the fused IVF-PQ encode (``_encoder``):
    a row's list and codes from one boundary crossing."""
    encode = _encoder(cents, pq)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            lists, codes = encode(_f64(pdf["__vec"]))
            yield pd.DataFrame({
                "neighbor_id": pdf["neighbor_id"],
                "list_id": lists,
                "codes": list(codes),
            })

    return fn


def _vec_scan(df: DataFrame, id_col, vec_col) -> DataFrame:
    """(neighbor_id, __vec) over the spread rows of ``df``: the input
    of the encode pass and of the encoding ADC scan."""
    return _spread(df).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vec")
    )


def _corpus_vecs(corpus: DataFrame, corpus_id, vec_col) -> DataFrame:
    """(neighbor_id, cv) read straight from the corpus for the re-rank."""
    return corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )


def _encode_frame(df: DataFrame, cents, pq, id_col, vec_col) -> DataFrame:
    """(neighbor_id, list_id, codes) for every row of ``df`` through a
    FIXED quantizer, in one pass over the spread rows — the encode that
    ``pq_encode`` (no coarse quantizer) and the persisted index's build
    and refresh share."""
    sel = _vec_scan(df, id_col, vec_col)
    idt = dict(sel.dtypes)["neighbor_id"]
    return sel.mapInPandas(
        _encode_kernel(cents, pq),
        schema=f"neighbor_id {idt}, list_id int, codes array<int>",
    )


# ------------------------- ADC scan --------------------------------------
def _query_tables(ids, vecs, cents, pq, n_probe):
    """The query side of the ADC scan, in numpy, for a collected batch
    (``ids``, raw vectors ``vecs``): ``(qids, probes, dtab)``.

    * ``probes`` maps each coarse list to the ascending indices of the
      queries that probe it — each query's ``n_probe`` nearest lists by
      ``_nearest_ids`` over the fp64 vector, as the corpus
      assignment. With ``cents`` None every query probes list 0.
    * ``dtab[q, j, c]`` is the ADC table: the squared-L2 fold of query
      slice j (fp64) against codeword c (``_sq_dists``), rounded like
      Spark's ``round(_, 6)`` (``_round6_all``)."""
    P = np.asarray(pq, dtype=np.float64)  # m x k_codes x d
    m, k_codes, d = P.shape
    n = len(ids)
    X = (
        np.asarray(vecs, dtype=np.float64).reshape(n, -1) if n
        else np.zeros((0, m * d))
    )
    dtab = np.empty((n, m, k_codes))
    for j in range(m):
        dtab[:, j, :] = _round6_all(_sq_dists(X[:, j * d:(j + 1) * d], P[j]))
    if cents is None:
        nearest = np.zeros((n, 1), np.int64)
    else:
        C = np.asarray(cents, dtype=np.float64)
        nearest = _nearest_ids(X, C, _cent_norms(C), n_probe)[0]
    probes: dict[int, np.ndarray] = {}
    for q, lists in enumerate(nearest.tolist()):
        for lst in lists:
            probes.setdefault(lst, []).append(q)
    probes = {lst: np.asarray(qs) for lst, qs in probes.items()}
    return np.asarray(ids), probes, dtab


def _top_n(q, adc, nid, n):
    """The first ``n`` rows of each query index ``q`` by
    ``(adc, nid)``, as three arrays sorted by ``(q, adc, nid)``."""
    order = np.lexsort((nid, adc, q))
    q, adc, nid = q[order], adc[order], nid[order]
    keep = np.arange(len(q)) - np.searchsorted(q, q) < n
    return q[keep], adc[keep], nid[keep]


def _adc_scan_kernel(tables, n_keep, encode=None, block=1 << 17):
    """mapInPandas kernel of the ADC scan: every (query, row) pair whose
    list the query probes gets the ADC distance, and only each query's
    running top-``n_keep`` by ``(adc, neighbor_id)`` leaves the task.

    ``tables`` is a broadcast of ``_query_tables``'s ``(qids, probes,
    dtab)``. Rows carry ``(neighbor_id, list_id, codes)``, or
    ``(neighbor_id, __vec)``, which the same pass encodes first with
    ``encode`` (an ``_encoder``). Per coarse list in the batch, the
    probing queries score the list's rows in blocks of at most
    ``block`` pairs: ``acc + dtab[q, j, code_j]`` for j = 0..m-1 from
    0.0, then ``_round6_all`` — the JVM's ``aggregate`` over the m
    table lookups followed by ``round(_, 6)``, bit for bit.
    Self-matches drop. Scored blocks pend until they outgrow
    max(``block``, |Q|*n_keep) rows and then merge into the running
    state (``_top_n``), so a task holds O(``block`` + |Q|*n_keep) rows
    whatever its partition size. Neighbor ids are unique in the scan
    (corpus ids; the index's deduplicated code generations)."""

    def fn(batches):
        import pandas as pd

        qids, probes, dtab = tables.value
        m = dtab.shape[1]
        cap = max(block, len(qids) * n_keep)
        pending, n_pending = [], 0

        def merged():
            return _top_n(
                *(np.concatenate(c) for c in zip(*pending)), n_keep
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            if encode is not None:
                lists, codes = encode(_f64(pdf["__vec"]))
            else:
                lists = pdf["list_id"].to_numpy()
                codes = np.stack(pdf["codes"].to_numpy())
            order = np.argsort(lists, kind="stable")
            ul, starts = np.unique(lists[order], return_index=True)
            for lst, rows in zip(ul.tolist(), np.split(order, starts[1:])):
                qs = probes.get(lst)
                if qs is None:
                    continue
                step = max(1, block // len(qs))
                for r0 in range(0, len(rows), step):
                    blk = rows[r0:r0 + step]
                    acc = np.zeros((len(qs), len(blk)))
                    for j in range(m):
                        acc = acc + dtab[qs, j][:, codes[blk, j]]
                    qq = np.repeat(qs, len(blk))
                    nn = np.tile(nid[blk], len(qs))
                    ok = qids[qq] != nn
                    pending.append(
                        (qq[ok], _round6_all(acc.ravel()[ok]), nn[ok])
                    )
                    n_pending += int(ok.sum())
                    if n_pending > cap:
                        pending = [merged()]
                        n_pending = len(pending[0][0])
        if n_pending:
            q, adc, nn = merged()
            yield pd.DataFrame(
                {"query_id": qids[q], "neighbor_id": nn, "adc": adc}
            )

    return fn


def _adc_candidates(qside, scan: DataFrame, cents, pq, n_probe,
                    n_candidates):
    """The global ADC candidate window of a search:
    ``(query_id, neighbor_id, adc)``, each query's first
    ``n_candidates`` by ``(adc, neighbor_id)``, and the collected query
    rows. ``qside`` is the query batch as ``(query_id, qv)``; it is
    collected once, its tables are built in numpy (``_query_tables``)
    and broadcast, and ONE ``mapInPandas`` pass of
    ``_adc_scan_kernel`` over ``scan`` emits each task's survivors; a
    ``row_number`` window merges them."""
    sc = qside.sparkSession.sparkContext
    rows = qside.collect()
    tables = sc.broadcast(_query_tables(
        [r[0] for r in rows], [r[1] for r in rows], cents, pq, n_probe
    ))
    qt, nt = dict(qside.dtypes)["query_id"], dict(scan.dtypes)["neighbor_id"]
    encode = _encoder(cents, pq) if "__vec" in scan.columns else None
    survivors = scan.mapInPandas(
        _adc_scan_kernel(tables, n_candidates, encode),
        schema=f"query_id {qt}, neighbor_id {nt}, adc double",
    )
    wc = W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    cand = (
        survivors.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= n_candidates)
        .drop("__r")
    )
    return cand, rows


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    n_candidates: int = 30,
    kmeans_iters: int = 2,
) -> DataFrame:
    """PQ-compressed ANN top-k (the memory-bound scale path): corpus
    vectors compress to m codeword indices; each query scans CODES with
    an asymmetric-distance lookup table (m adds per candidate instead of
    dim multiplies), takes its ``n_candidates`` best, and re-ranks only
    those exactly by cosine.

    The search is ``ivfpq_search`` with one list that every query
    probes: one pass encodes each spread corpus row and scores it
    against every query's table (``_adc_scan_kernel``), and only
    |Q|*n_candidates rows per task leave it. Raw vectors are read again
    only for the bounded re-rank."""
    pq = pq_codebooks(
        corpus, dim, corpus_id, vec_col, m, k_codes, kmeans_iters
    )
    return ivfpq_search(
        queries, _vec_scan(corpus, corpus_id, vec_col),
        _corpus_vecs(corpus, corpus_id, vec_col), None, pq,
        query_id=query_id, vec_col=vec_col, k=k, n_probe=1,
        n_candidates=n_candidates,
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    n_candidates: int = 60,
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ composition — the actual 10^9-vector
    path): the coarse quantizer bounds WHICH corpus rows each query
    touches (only rows of its ``n_probe`` lists are scored — no cross
    join anywhere in the operator plan), and PQ codes bound WHAT each
    touched row costs (m lookup-adds over an 8-byte code instead of dim
    float multiplies). Exact cosine re-rank of the per-query ADC
    top-``n_candidates``.

    Classic (non-residual) PQ codebooks: at n_probe/n_lists coverage
    the residual refinement changes recall by little and keeps both
    quantizers independently testable. Both quantizers train in the
    same Lloyd rounds; the scan pass encodes each corpus row's list
    and codes and scores it in the same task (see ``ivfpq_search``)."""
    cents, pq = _train_quantizers(
        corpus, corpus_id, vec_col, kmeans_iters, n_lists=n_lists,
        dim=dim, m=m, k_codes=k_codes,
    )
    return ivfpq_search(
        queries, _vec_scan(corpus, corpus_id, vec_col),
        _corpus_vecs(corpus, corpus_id, vec_col), cents, pq,
        query_id=query_id, vec_col=vec_col, k=k,
        n_probe=n_probe, n_candidates=n_candidates,
    )


def ivfpq_search(
    queries: DataFrame,
    corpus_scan: DataFrame,
    corpus_vecs: DataFrame,
    cents: list[list[float]] | None,
    pq,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    n_candidates: int = 60,
) -> DataFrame:
    """The IVF-PQ SEARCH given a trained quantizer — shared by
    ``ivfpq_topk`` and ``pq_topk`` (train in-query; ``cents`` None is
    one list every query probes) and the persisted-index probe path
    (``llm/ann_index.py`` loads both quantizers and the codes from
    snapshot-table sidecars), so they can never rank differently.

    ``corpus_scan`` carries (neighbor_id, list_id, codes), or
    (neighbor_id, __vec) to encode in the scan pass. The query batch is
    collected once; its probe lists and ADC tables are computed in
    numpy and broadcast, and one ``mapInPandas`` pass
    (``_adc_scan_kernel``) leaves at most |Q|*n_candidates rows per
    task. A ``row_number`` window picks the global candidates, which
    are materialized and re-ranked exactly by cosine against
    ``corpus_vecs`` (neighbor_id, cv) — probing it from the LIVE table
    is what drops deleted vectors out of persisted-index results."""
    qside = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cand, rows = _adc_candidates(
        qside, corpus_scan, cents, pq, n_probe, n_candidates
    )
    # materialized: two consumers (the id semi-join and the re-rank
    # join) would otherwise each re-run the scan
    cand = _materialize(cand.select("query_id", "neighbor_id"))
    # the query side re-enters from the collected rows, so the batch is
    # evaluated once; its norm folds once per QUERY (the join node
    # blocks CollapseProject)
    import pandas as pd

    qv = qside.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=qside.columns), qside.schema
    ).select(
        "query_id", "qv", l2_norm(F.col("qv")).alias("__qn")
    )
    # candidate-scoped corpus norms: the broadcast id semi-join scopes
    # the corpus read to surviving candidates without moving the
    # corpus, and each surviving neighbor folds its norm exactly once.
    # Same fold, same order — cos_sim bit-identical; deleted vectors
    # drop out via the inner join.
    cvn = corpus_vecs.join(
        F.broadcast(cand.select("neighbor_id")), "neighbor_id", "left_semi"
    ).select("neighbor_id", "cv", l2_norm(F.col("cv")).alias("__cn"))
    exact = cand.join(F.broadcast(qv), "query_id").join(
        cvn, "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("cv"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
