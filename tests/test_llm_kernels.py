"""Golden pins for the LLM operator kernels, plus the plan and reference
checks that belong to the same operators.

Every ANN and dedup operator with a numpy kernel has exactly one
implementation. Its output at sf0.01 and sf0.1 is frozen as a sha256 over
the canonical JSON of the sorted output rows (``json.dumps`` writes
floats with ``repr``, so every double is pinned to the last bit). The
digests were recorded while the retired Spark-expression folds still
existed and matched these kernels bit for bit, and they were identical at
local[1], [2] and [4] on sf0.01 and at local[1] and [4] on sf0.1, so they
do not depend on the core count. The ``ivf_topk``, ``pq_topk`` and
``ivfpq_topk`` digests (the registry's parameters, queries
``vec_id < 10``) were recorded before the two quantizer trainers were
folded into one set of shared Lloyd rounds and the IVF-PQ encode into
one pass, and that change left them, and the ``kmeans_centroids`` and
``pq_codebooks`` digests, unchanged. The ``pq_topk_candidates`` and
``ivfpq_topk_candidates`` digests (the global ADC candidate windows of
those two searches) were recorded at local[1] and [4], identical, while
the Spark-expression ADC scan (a materialized distance table and one
``aggregate`` fold per pair) still existed; the numpy scan kernel that
replaced it reproduces them. The DuckDB oracle rows
(tests/test_oracle_parity.py) check the same operators from the other
side.

A changed digest means a kernel changed its output. If the change is
intended, re-derive the digest from an independent reference first (the
pair scorer below is one), then update ``GOLDEN``.
"""

from __future__ import annotations

import math
from functools import cached_property
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table
from s3_glue_redshift_guide_spark.llm import dedup as D
from s3_glue_redshift_guide_spark.llm import similarity as S

from .parity import digest

SF = "/root/testdata/sf0.01"

GOLDEN = {
    "sf0.01": {
        "kmeans_centroids": "b22a46bc6cc79fe2728f5e1d475a729cbcc3ba73843381564829c35875c30214",
        "nearest_lists_1": "3c889a709edd7f3e60265829b728c9b1d1d53376edcf92ab411777f122eed80c",
        "nearest_lists_3_norm": "119833019f811cb64363376338bcfb692c322ab9d482ca913e766859cb363094",
        "pq_codebooks": "2776a4ae81404916a7a70030be2973c1fb8add47bb8cd74de64d3719251f9b1a",
        "pq_encode": "e8cc289be92b68df17ee6882caa00eb7d1ed4a62f09db7f4a75d8c66549279d9",
        "semantic_dedup_pairs": "fba32e92980a184588e18473955f60c7b1cd73180a3028b4a9d62ac1db5411eb",
        "doc_shingle_sets": "670db29c8ae00411c6a1c6595a43cabc43ef6c17e7dad5ba65ffae77308d4033",
        "minhash_sigs": "ef6b40be8ca183848eda63d1a3f3eaa7ac19dd3f26ae543652d176d23d350f5d",
        "minhash_near_dup_pairs": "f01a361b061754e2cecdc509523cb3de835b75b5edb251593bfbd9f463c83bc9",
        "ivf_topk": "a6de2914cdae91b1c6193bedf9f2e915cf159ca48dcba4549dfae96062fe3bc7",
        "pq_topk": "3184f025d71d1f6d8f45be2211914578c4d54f857694df575aabde02b693c452",
        "ivfpq_topk": "a6de2914cdae91b1c6193bedf9f2e915cf159ca48dcba4549dfae96062fe3bc7",
        "pq_topk_candidates": "613a777ee56340621f03104cf0a5140e39b9139676d58db9a289bb925f4ff306",
        "ivfpq_topk_candidates": "4254ffbe083bc220cacb6b789133f0cea992c3faf4df26b8e34b4c1500bd5406",
    },
    "sf0.1": {
        "kmeans_centroids": "29327f9f9a118eb6bbc996ef1f6cd007941f19df246fe4570ddab4a83b34fbd2",
        "nearest_lists_1": "46bec5c8e559b9d419d91c8f920b433dc6f111e40adfedd92134cfb5d135d869",
        "nearest_lists_3_norm": "0e395de5a7d4a8cc46e4d199ee57014eae89ee93f8b80d55f8a6737c04c9c87b",
        "pq_codebooks": "373767c0b897c50cbe1d099e5cac3e8f586506c6fae837fd016dfb43bc69a28e",
        "pq_encode": "78fd77d787897e64ddd4e9deffcdd8593b409a99cab2eec83a37e5ea66806805",
        "semantic_dedup_pairs": "26189f22cc85903e57dd908913398975cc21d388610001755dc97d40972492c3",
        "doc_shingle_sets": "7457a79ce5b9ba713d6a04ccad5d78f679ba55d1351baeee0c74e67c58ddfcc6",
        "minhash_sigs": "d93f23402480b5f94826eca0059e962e997aab45ab869748f7e3323fb206624c",
        "minhash_near_dup_pairs": "f9bf1a6d090464b8b69e5f594ba88f254d3364b154365b4a6b7e8441b350aa79",
        "ivf_topk": "001559492f8882bd6d57290e24e9bfed3667aa705fa2ba30f1ee3ebfa81ade63",
        "pq_topk": "5ab1e0cd6f75f9321095f35444bdff4aff1ec0df0834bc7172b0f7bd84e97c4f",
        "ivfpq_topk": "948d13b895555c5532bb139c97f744ff29e65b93c66f1d2c4692408bc48f6665",
        "pq_topk_candidates": "706083663c5a3c63fb693896449e7b70986bf5d6f53008723e3872bb61920273",
        "ivfpq_topk_candidates": "f808693e36adc50e493c5a08ba4e9f9bf086daa937d206e9fbb5f542af0e3eae",
    },
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _json_rows(df) -> list[list]:
    return [list(r) for r in df.collect()]


class _KernelOutputs:
    """The pinned outputs at one scale factor, one method per ``GOLDEN``
    key, each returning JSON-able rows. Shared inputs (centroids,
    codebooks, shingle sets) compute once."""

    def __init__(self, spark, sf_dir: str):
        self.emb = load_table(spark, sf_dir, "embeddings")
        self.docs = load_table(spark, sf_dir, "documents")

    @cached_property
    def cents(self):
        return S.kmeans_centroids(self.emb, k=8, iters=2)

    @cached_property
    def codebooks(self):
        return S.pq_codebooks(self.emb, 64, m=8, k_codes=16, iters=2)

    @cached_property
    def sets(self):
        return D._doc_shingle_sets(self.docs, "doc_id", "text", 3)

    def kmeans_centroids(self):
        return [[i, *c] for i, c in enumerate(self.cents)]

    def nearest_lists_1(self):
        return _json_rows(S._nearest_lists(
            self.emb, self.cents, "embedding", ("vec_id", "id"), "v", 1
        ))

    def nearest_lists_3_norm(self):
        return _json_rows(S._nearest_lists(
            self.emb, self.cents, "embedding", ("vec_id", "id"), "v", 3,
            norm_out="__vn",
        ))

    def pq_codebooks(self):
        cb = self.codebooks
        return [
            [j, c, *cb[j][c]] for j in range(len(cb)) for c in range(len(cb[j]))
        ]

    def pq_encode(self):
        return _json_rows(S.pq_encode(self.emb, self.codebooks, "vec_id"))

    def semantic_dedup_pairs(self):
        return _json_rows(S.semantic_dedup_pairs(
            self.emb, threshold=0.4, n_lists=8, n_probe=3
        ))

    def doc_shingle_sets(self):
        return _json_rows(self.sets)

    def minhash_sigs(self):
        return _json_rows(D._minhash_sigs_arrow(
            self.sets.filter(F.size("sh") > 0), 32
        ))

    def minhash_near_dup_pairs(self):
        return _json_rows(D.minhash_near_dup_pairs(
            self.docs, "doc_id", "text", n=3, n_hashes=32, bands=8,
            threshold=0.5,
        ))

    # the three ANN searches with the registry's parameters over the
    # registry's query set (vec_id < 10)
    @cached_property
    def queries(self):
        return self.emb.filter(F.col("vec_id") < 10)

    def ivf_topk(self):
        return _json_rows(S.ivf_topk(
            self.queries, self.emb, k=5, n_lists=16, n_probe=4
        ))

    def pq_topk(self):
        return _json_rows(S.pq_topk(
            self.queries, self.emb, dim=64, k=5, m=8, k_codes=16,
            n_candidates=60,
        ))

    def ivfpq_topk(self):
        return _json_rows(S.ivfpq_topk(
            self.queries, self.emb, dim=64, k=5, n_lists=16, n_probe=4,
            m=8, k_codes=16, n_candidates=60,
        ))

    # the global ADC candidate windows (query_id, neighbor_id, adc) of
    # the two PQ searches above, before the exact re-rank: a last-ulp
    # ADC change can leave the final top-5 alone but moves these
    def _candidates(self, cents, pq, n_probe):
        qside = self.queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        scan = S._vec_scan(self.emb, "vec_id", "embedding")
        return _json_rows(
            S._adc_candidates(qside, scan, cents, pq, n_probe, 60)[0]
        )

    def pq_topk_candidates(self):
        return self._candidates(None, self.codebooks, 1)

    def ivfpq_topk_candidates(self):
        cents, pq = S._train_quantizers(
            self.emb, "vec_id", "embedding", 2, n_lists=16, dim=64, m=8,
            k_codes=16,
        )
        return self._candidates(cents, pq, 4)


@pytest.fixture(scope="module")
def kernel_outputs(spark):
    by_sf: dict[str, _KernelOutputs] = {}

    def get(sf: str) -> _KernelOutputs:
        if sf not in by_sf:
            by_sf[sf] = _KernelOutputs(spark, f"/root/testdata/{sf}")
        return by_sf[sf]

    return get


@pytest.mark.parametrize(
    "sf,name",
    [(sf, name) for sf, pins in GOLDEN.items() for name in pins],
    ids=lambda v: v,
)
def test_kernel_output_matches_golden_digest(kernel_outputs, sf, name):
    rows = getattr(kernel_outputs(sf), name)()
    assert digest(rows) == GOLDEN[sf][name]


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def _job_count(spark, name, fn) -> int:
    """Spark jobs one call of ``fn`` launches, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{name}"
    sc.setJobGroup(group, name)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_shared_rounds_equal_separate_trainers(kernel_outputs):
    """Training the coarse quantizer and the PQ codebooks in the same
    Lloyd rounds gives exactly the centroids and codebooks that
    ``kmeans_centroids`` and ``pq_codebooks`` train alone (both pinned
    by digest above), including when the two need different numbers of
    init vectors."""
    ko = kernel_outputs("sf0.01")
    cents, pq = S._train_quantizers(
        ko.emb, "vec_id", "embedding", 2, n_lists=8, dim=64, m=8, k_codes=16
    )
    assert cents == ko.cents
    assert pq == ko.codebooks


def test_kmeans_round_is_one_job(spark):
    """Two Lloyd rounds cost four jobs: the ordered init collect, the
    spread's shuffle behind the pinned corpus, and one job per round.
    A per-round shuffle or groupBy-mean stage moves this number."""
    e = _emb(spark)
    n = _job_count(spark, "kmeans", lambda: S.kmeans_centroids(e, k=16, iters=2))
    assert n <= 4, n


def test_ivfpq_topk_job_count(spark):
    """The registry's IVF-PQ search at sf0.01: shared training rounds,
    one query collect, one pass that encodes and scores each corpus row
    and the bounded re-rank run 12 jobs at 4 and 8 cores (11 at one
    core). A query-side assignment job, a materialized ADC table, the
    list_id join with its distinct and a corpus-wide re-rank spread
    ran 19; two separate Lloyd loops before that ran 31."""
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 10)
    n = _job_count(spark, "ivfpq", lambda: S.ivfpq_topk(
        q, e, dim=64, k=5, n_lists=16, n_probe=4, m=8, k_codes=16,
        n_candidates=60,
    ).collect())
    assert n <= 12, n


def test_pq_topk_job_count(spark):
    """The registry's PQ search at sf0.01: the codebook rounds, one
    query collect, one encode-and-score pass and the bounded re-rank
    run 12 jobs at 4 and 8 cores (11 at one core). A materialized
    query table, a cross-join ADC fold and a corpus-wide re-rank spread
    ran 17."""
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 10)
    n = _job_count(spark, "pq", lambda: S.pq_topk(
        q, e, dim=64, k=5, m=8, k_codes=16, n_candidates=60,
    ).collect())
    assert n <= 12, n


def test_round6_rounds_like_spark():
    """``_round6`` is Spark's ``round(x, 6)``: HALF_UP on the shortest
    repr decimal (not on the binary expansion), no negative zero, and
    integers from 2^52 up, NaN and infinities returned as they are."""
    r = S._round6
    assert r(5e-07) == 1e-06 and r(-5e-07) == -1e-06
    assert r(0.1234565) == 0.123457 and r(0.5000005) == 0.500001
    assert r(12.3456785) == 12.345679
    assert str(r(-4e-07)) == "0.0" and str(r(-0.0)) == "0.0"
    assert r(2.0**52 - 0.5) == 2.0**52 - 0.5
    for x in (1e22, -1e22, 1e300, 2.0**52, float("inf"), float("-inf")):
        assert r(x) == x
    assert math.isnan(r(float("nan")))
    got = S._round6_all(np.array([[0.1234565, -0.0], [1e22, -4e-07]]))
    assert got.shape == (2, 2)
    assert got.tolist() == [[0.123457, 0.0], [1e22, 0.0]]
    assert not np.signbit(got).any()


def _scan(tables, n_keep, batches, block):
    fn = S._adc_scan_kernel(SimpleNamespace(value=tables), n_keep,
                            block=block)
    return pd.concat(list(fn(iter(batches))), ignore_index=True)


def test_adc_scan_kernel_keeps_exact_per_query_top_n():
    """The scan kernel alone, without Spark: many small batches (one
    empty), ties in adc, self-ids, and a query whose only probed list
    never appears. Its output holds at most |Q|*n rows and, per query,
    exactly the brute-force first n by (adc, neighbor_id), whether a
    list's rows score in one block or in blocks of a few pairs."""
    rng = np.random.default_rng(11)
    m, k_codes, n_rows, n_keep = 4, 8, 300, 7
    qids = np.array([3, 17, 42, 99, 1000, 5])
    # coarse values so that many ADC sums tie
    dtab = rng.integers(0, 4, (len(qids), m, k_codes)) / 10.0
    probes = {0: np.array([0, 1, 2]), 1: np.array([0, 3]),
              2: np.array([1, 2, 4]), 3: np.array([4]), 9: np.array([5])}
    nid = rng.permutation(np.arange(n_rows) * 3 + 2)  # holds 17 and 5
    lists = rng.integers(0, 4, n_rows).astype(np.int32)
    codes = rng.integers(0, k_codes, (n_rows, m)).astype(np.int32)
    # the row of id 17 would be query 17's nearest: only the self-match
    # rule keeps it out
    dtab[1, :, 0] = 0.0
    lists[nid == 17], codes[nid == 17] = 0, 0
    cuts = np.sort(rng.choice(np.arange(1, n_rows), 60, replace=False))
    batches = [
        pd.DataFrame({"neighbor_id": nid[i:j], "list_id": lists[i:j],
                      "codes": list(codes[i:j])})
        for i, j in zip([0, *cuts], [*cuts, n_rows])
    ]
    batches.insert(5, batches[0].iloc[:0])
    want = {}
    for q, qid in enumerate(qids.tolist()):
        want[qid] = []
        for r in range(n_rows):
            if q not in probes.get(int(lists[r]), ()) or nid[r] == qid:
                continue
            acc = 0.0
            for j in range(m):
                acc = acc + dtab[q, j, codes[r, j]]
            want[qid].append((S._round6(acc), int(nid[r])))
        want[qid] = sorted(want[qid])[:n_keep]
    for block in (1 << 17, 5):
        got = _scan((qids, probes, dtab), n_keep, batches, block)
        assert len(got) <= len(qids) * n_keep
        for qid, rows in want.items():
            mine = got[got.query_id == qid]
            assert sorted(zip(mine.adc, mine.neighbor_id)) == rows
        assert 5 not in set(got.query_id)  # its only list is absent
        assert len(got) == 5 * n_keep


def test_f64_keeps_double_vectors():
    """``_f64`` reads vector elements as fp64: doubles keep every bit and
    float32 values widen exactly (so ``array<float>`` outputs, and every
    ``GOLDEN`` digest, are unchanged)."""
    got = S._f64(pd.Series([[0.1, 1 / 3], [-0.0, 2.5]]))
    assert got.dtype == np.float64
    assert got.tolist() == [[0.1, 1 / 3], [-0.0, 2.5]]
    f32 = np.array([0.1, 1 / 3], dtype=np.float32)
    assert S._f64(pd.Series([f32])).tolist() == [
        f32.astype(np.float64).tolist()
    ]


def test_double_corpus_assigns_at_full_precision(spark):
    """On an ``array<double>`` corpus the coarse assignment scores the
    doubles, as the JVM fold's ``as_double`` does: [1, 1 + 1e-12] is
    nearer centroid [0, 1] than [1, 0]. Truncated to float32 the two tie
    and the tie goes to list 0."""
    vecs = [(0, [1.0, 1.0 + 1e-12]), (1, [1.0 + 1e-12, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    got = S._nearest_lists(
        df, [[1.0, 0.0], [0.0, 1.0]], "embedding", ("vec_id", "id"), "v", 1
    )
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, vecs[0][1], 1), (1, vecs[1][1], 0)
    ]


def test_semantic_dedup_kernel_matches_expression_reference(spark):
    """The per-list pair kernel must emit exactly the pairs and cos_sim
    values of an independent Spark-expression scorer over the same
    quantizer: a plain list_id self-join scoring each co-resident pair
    with the JVM dot fold and Spark's round(double, 6)."""
    from s3_glue_redshift_guide_spark.functions.vectors import dot

    e = _emb(spark)
    got = S.semantic_dedup_pairs(
        e, threshold=0.4, n_lists=4, n_probe=2, kmeans_iters=2
    )
    cents = S.kmeans_centroids(e, "vec_id", "embedding", 4, 2)
    assigned = S._nearest_lists(
        e, cents, "embedding", ("vec_id", "id"), "v", 2, norm_out="__vn"
    )
    a = assigned.select(
        "list_id", F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("__vn").alias("__na"),
    )
    b = assigned.select(
        "list_id", F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("__vn").alias("__nb"),
    )
    ref = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .distinct()
    )
    assert _rows(got) == _rows(ref)


def test_minhash_capped_candidates_match_groupby_stats_reference(spark):
    """Value pin for the capped candidate set: the shipped window shape
    must emit exactly the pairs of an independently-built groupBy-stats
    reference (same math, different plan), so a future restructure can't
    silently drift the cap semantics."""
    docs = load_table(spark, SF, "documents")
    sets = D._doc_shingle_sets(docs, "doc_id", "text", 3)
    cap = 8
    got = D.minhash_lsh_candidates(
        docs, "doc_id", "text", 3, 32, 16,
        shingle_sets=sets, max_band_bucket=cap,
    )
    # reference: same banding, bucket stats via groupBy + join-back
    uncapped_ab = D.minhash_lsh_candidates(
        docs, "doc_id", "text", 3, 32, 16, shingle_sets=sets,
    )
    r = 32 // 16
    sig = D._materialize(
        D._minhash_sigs_arrow(sets.filter(F.size("sh") > 0), 32)
    )
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", band * r + j + 1)
                                for j in range(r)
                            ]
                        ).alias("bucket"),
                    )
                    for band in range(16)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    stats = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bsz"), F.min("doc").alias("hub")
    )
    joined = banded.join(stats, ["band", "bucket"])
    sm = joined.filter(F.col("bsz") <= cap)
    ref_pairs = (
        sm.select("band", "bucket", F.col("doc").alias("doc_a"))
        .join(
            sm.select("band", "bucket", F.col("doc").alias("doc_b")),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    ref_star = joined.filter(
        (F.col("bsz") > cap) & (F.col("doc") != F.col("hub"))
    ).select(F.col("hub").alias("doc_a"), F.col("doc").alias("doc_b"))
    ref = ref_pairs.unionAll(ref_star).distinct()
    assert _rows(got) == _rows(ref)
    # and the cap only ever REMOVES pairs vs uncapped (plus hub edges)
    assert len(_rows(got)) <= len(_rows(uncapped_ab)) + len(
        _rows(ref_star.distinct())
    )


def test_pq_rerank_single_fold_and_materialized_candidates(spark):
    emb = _emb(spark)
    q = emb.limit(5)
    df = S.pq_topk(q, emb, dim=64, k=3, m=8, k_codes=8,
                   n_candidates=10, kmeans_iters=1)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    cos_lines = [ln for ln in plan.splitlines() if "AS cos_sim" in ln]
    assert cos_lines, "re-rank projection missing"
    for ln in cos_lines:
        assert ln.count("aggregate(") == 1, "re-rank must fold ONCE"
        assert "__qn" in ln and "__cn" in ln
    # candidate frame materialized: the plan reads it as an RDD scan
    assert "ExistingRDD" in plan


def test_spread_width_caps_small_and_ceilings_large(spark):
    par = spark.sparkContext.defaultParallelism
    small = load_table(spark, SF, "documents")  # ~65 KB at sf0.01
    w = D._spread_width(small)
    assert 1 <= w <= max(1, par // 2), f"small input not capped: {w}"
    # a frame whose stats estimate is far beyond the slice budget
    big = small.crossJoin(spark.range(10_000).select(F.lit(1).alias("j")))
    assert D._spread_width(big) == par
