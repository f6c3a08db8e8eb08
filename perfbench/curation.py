"""llm_curation: the LLM-data operators on a fresh corpus shard per cycle.

A cycle calls, in order: ``text_stats_arrow``, ``minhash_near_dup_pairs``
(the operator parameters of ``bench.py``), ``semantic_dedup_pairs`` and
the ``ivfpq_topk`` search (the registry's parameters) for a query batch
drawn from the shard. ``pq_topk`` is left out to fit the run-time budget:
IVF-PQ trains and scans the same PQ codebooks behind its coarse lists. Each call collects its result, which
is what a caller of these operators does with them. The operators are
called directly, not through the registry rows, which add O(n^2) exact
references. Warm-up runs one cycle on a shard of the same size.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np

from perfbench import gen

NAME = "llm_curation"
N_DOCS, N_VECS, N_QUERIES = 2_000, 800, 10
N_NEAR_DUPS = 100          # of the N_DOCS documents
MINHASH = dict(n=3, n_hashes=32, bands=16, threshold=0.2, max_band_bucket=64)
SEMDEDUP = dict(threshold=0.4, n_lists=8, n_probe=3, kmeans_iters=2)
IVFPQ = dict(dim=64, k=5, n_lists=16, n_probe=4, m=8, k_codes=16, n_candidates=60)
SECONDS_PER_CYCLE = 14.0   # nominal: the pass runs seconds / this cycles
OPS = ["text_stats", "minhash", "semdedup", "ivfpq"]


def pass_cycles(seconds: int) -> int:
    return max(1, round(seconds / SECONDS_PER_CYCLE))


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_cycles = pass_cycles(ctx.seconds)
        self.dir = os.path.join(ctx.cache,
                                f"curation-{ctx.seed}-{N_DOCS}-{N_NEAR_DUPS}-{N_VECS}")

    def planned_ops(self) -> int:
        return self.n_cycles * len(OPS)

    def generate(self) -> None:
        # shard 0 is the warm-up shard; 1..n are timed
        self.shards = [gen.corpus_shard(self.dir, self.ctx.seed, c, N_DOCS, N_VECS,
                                        N_NEAR_DUPS)
                       for c in range(1 + self.n_cycles)]

    def build(self) -> None:
        """No starting state: every cycle curates a fresh shard."""
        self.results = []

    def warm(self):
        return self._cycle(0)

    def ops(self):
        for c in range(1, 1 + self.n_cycles):
            yield from self._cycle(c)

    def _cycle(self, c: int):
        from s3_glue_redshift_guide_spark.catalog import load_table
        from s3_glue_redshift_guide_spark.functions.text import text_stats_arrow
        from s3_glue_redshift_guide_spark.llm.dedup import minhash_near_dup_pairs
        from s3_glue_redshift_guide_spark.llm.similarity import (
            ivfpq_topk, semantic_dedup_pairs)

        ctx, tr, shard = self.ctx, self.ctx.tracer, self.shards[c]
        docs = load_table(ctx.spark, shard, "documents")
        emb = load_table(ctx.spark, shard, "embeddings")
        qids = np.random.default_rng([ctx.seed, 6, c]).choice(
            N_VECS, size=N_QUERIES, replace=False).tolist()
        queries = emb.filter(emb.vec_id.isin(qids))
        out = {"shard": shard, "qids": qids}
        self.results.append(out)
        calls = {
            "text_stats": ("text", lambda: text_stats_arrow(docs)),
            "minhash": ("dedup", lambda: minhash_near_dup_pairs(
                docs, "doc_id", "text", **MINHASH)),
            "semdedup": ("similarity", lambda: semantic_dedup_pairs(emb, **SEMDEDUP)),
            "ivfpq": ("similarity", lambda: ivfpq_topk(queries, emb, **IVFPQ)),
        }
        for name in OPS:
            def op(name=name):
                layer, call = calls[name]
                with tr.span(name, layer) as sp:
                    out[name] = call().toPandas()
                out[f"{name}.window"] = (sp.t0, time.time())
                if name in ("minhash", "semdedup"):
                    tr.count(f"{name}.pairs", len(out[name]))

            yield name, op

    def pass_counters(self) -> dict:
        """Recall of the search: the share of each query's exact top 5
        (numpy brute force) that the search returned, over the pass."""
        hits = {"ivfpq": []}
        for out in self.results[1:]:
            X = _unit_vectors(out["shard"])
            for name in hits:
                for q in out["qids"]:
                    got = out[name][out[name].query_id == q].neighbor_id
                    hits[name].append(len(_exact_top5(X, q) & set(got.tolist())))
        return {f"{n}.recall": float(np.mean(h)) / 5 for n, h in hits.items()}

    # --------------------------------------------------------------- check
    def verify(self, sampler) -> list[str]:
        import pyarrow.parquet as pq

        from perfbench.procs import self_check

        errs = []
        for out in self.results[1:]:
            # text_stats_arrow is a mapInPandas call
            errs += [m for m in [self_check(sampler, *out["text_stats.window"])] if m]
            shard = out["shard"]
            texts = pq.read_table(os.path.join(shard, "documents.parquet")).to_pandas()
            errs += _check_text_stats(out["text_stats"], texts, shard)
            errs += _check_minhash(out["minhash"], texts, shard)
            X = _unit_vectors(shard)
            errs += _check_semdedup(out["semdedup"], X, shard)
            errs += _check_ann(out["ivfpq"], X, out["qids"], IVFPQ["k"], f"ivfpq {shard}")
        return errs


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.lower()) if t]


def _check_text_stats(got, texts, shard) -> list[str]:
    from decimal import ROUND_HALF_UP, Decimal

    got = got.set_index("doc_id").sort_index()
    if len(got) != len(texts):
        return [f"text_stats {shard}: {len(got)} rows, expected {len(texts)}"]
    bad = 0
    for doc_id, text in zip(texts.doc_id, texts.text):
        toks = _tokens(text)
        fp = 0
        for ch in text[:64]:
            fp = (fp * 31 + ord(ch)) % 1_000_000_007
        avg = Decimal(sum(map(len, toks))) / Decimal(max(len(toks), 1))
        want = (len(toks), len(set(toks)),
                float(avg.quantize(Decimal("0.0001"), ROUND_HALF_UP)), fp)
        row = got.loc[doc_id]
        bad += want != (row.n_tokens, row.n_distinct_tokens, row.avg_token_len, row.fingerprint)
    return [f"text_stats {shard}: {bad} rows differ from a Python re-count"] if bad else []


def _check_minhash(got, texts, shard) -> list[str]:
    n = MINHASH["n"]
    sets = {}
    for doc_id, text in zip(texts.doc_id, texts.text):
        toks = _tokens(text)
        sets[doc_id] = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    bad = 0
    for a, b, jac in zip(got.doc_a, got.doc_b, got.jaccard):
        sa, sb = sets[a], sets[b]
        exact = round(len(sa & sb) / len(sa | sb), 6)
        bad += exact < MINHASH["threshold"] or abs(exact - jac) > 1e-9
    return [f"minhash {shard}: {bad} of {len(got)} pairs below threshold "
            "or mis-scored under an exact re-score"] if bad else []


def _check_semdedup(got, X, shard) -> list[str]:
    cos = np.einsum("ij,ij->i", X[got.id_a.to_numpy()], X[got.id_b.to_numpy()])
    bad = int((np.round(cos, 6) < SEMDEDUP["threshold"] - 1e-6).sum())
    return [f"semdedup {shard}: {bad} of {len(got)} pairs below threshold "
            "under an exact re-score"] if bad else []


def _unit_vectors(shard: str) -> np.ndarray:
    import pyarrow.parquet as pq

    vecs = pq.read_table(os.path.join(shard, "embeddings.parquet")).to_pandas()
    X = np.stack(vecs.sort_values("vec_id").embedding.to_numpy()).astype(np.float64)
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def _exact_top5(X: np.ndarray, q: int) -> set[int]:
    cos = np.round(X @ X[q], 6)
    cos[q] = -np.inf  # self-matches are excluded
    return set(np.lexsort((np.arange(len(X)), -cos))[:5].tolist())


def _check_ann(got, X, qids, k, what) -> list[str]:
    """What the search guarantees by construction: k neighbours per
    query, no self-match, each ``cos_sim`` the exact cosine (6 dp) and
    ranks ordered by (cos_sim desc, id). Recall against the exact top 5
    is reported by the traced run (``ivfpq.recall``), not gated: see
    README.md."""
    errs = []
    for q in qids:
        g = got[got.query_id == q]
        exact = np.round(X[g.neighbor_id.to_numpy()] @ X[q], 6)
        order = np.lexsort((g.neighbor_id.to_numpy(), -g.cos_sim.to_numpy()))
        if (len(g) != k or (g.neighbor_id == q).any()
                or np.abs(exact - g.cos_sim.to_numpy()).max() > 2e-6
                or (g["rank"].to_numpy()[order] != np.arange(1, k + 1)).any()):
            errs.append(f"{what}: query {q} result is not an exact top {k} re-rank")
    return errs
