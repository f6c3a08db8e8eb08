"""L1/L2 — deduplication operators for training-data pipelines.

Four near-dup families, all shuffle-bounded (never O(n^2) over the corpus):

* **exact** — hash-groupBy on content (or sha2 of content): one shuffle.
* **n-gram Jaccard** — inverted-index self-join: docs sharing a shingle
  meet in the shingle's shuffle bucket; pair intersection counts come from
  a groupBy on (a,b). Cost ~ sum over shingles of df^2 — bounded by
  dropping ultra-frequent shingles (stopword shingles), the classic trick.
* **MinHash + LSH** — k seeded min-hashes per doc -> b bands of r rows;
  docs equal on any band's composite hash meet in that band's bucket.
  Candidates then verify with EXACT Jaccard, so precision is 1.0 and only
  recall depends on (b, r). Fully deterministic: hash seeds are literals.
* **SimHash** — 64-bit signature from token hashes; near-dups have small
  Hamming distance. Banding the signature into 4x16-bit blocks guarantees
  any pair within Hamming distance 3 shares a block (pigeonhole) — the
  bucket join finds them without a cross join.

Each operator has one implementation. The joins, groupBys and exact
verification are DataFrame expressions (xxhash64 / bit ops / aggregate
folds), so the only shuffles are the bucket joins and groupBys — the shape
that survives 1000 executors. The two per-document featurizations that
Spark can only interpret, shingling (``_doc_shingle_sets``) and MinHash
signatures (``_minhash_sigs_arrow``), run as Arrow-batched ``mapInPandas``
kernels. Their outputs are pinned by golden digests
(tests/test_llm_kernels.py) and the DuckDB oracle rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import tokens


#: _spread granularity: one partition per this many SOURCE bytes (plan-
#: stats estimate, ~= compressed parquet bytes for a scan). Sized from a
#: measured sweep (OPTIMIZATION_r12.md, min-of-3 noop of the four
#: spread-sensitive headline queries): at sf0.1/local[32] the totals
#: were 8 KB 3.11 s / 32 KB 2.34 s / 128 KB 2.05 s / uncapped (pre-r12,
#: width = cores) 2.72 s, and 128 KB also closed the 8-vs-32-core
#: anti-correlation (2.05 s on 32 cores vs 2.12 s on 8; r11 read the
#: LLM queries up to 1.5x FASTER on 8 cores). sf1 is flat across the
#: sweep (4.38-4.55 s), so the cap costs nothing where data dominates.
#: Only the SMALL-INPUT cap depends on this constant; at cluster scale
#: (TB inputs) the ceiling below is always defaultParallelism, exactly
#: the pre-r12 shape.
_SPREAD_BYTES_PER_SLICE = 128 << 10


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the frame (file bytes for a scan) —
    a DRIVER-side metadata read, no job."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a (possibly single-file) corpus across all cores before
    per-document featurization. Shingling/minhashing are higher-order
    expression folds — evaluated, not codegen'd — so they're CPU-bound and
    a one-partition scan serializes them; the tiny shuffle here buys full
    parallelism. At cluster scale a 100 TB corpus already has thousands of
    input splits and this is a cheap no-op-ish rebalance.

    Width is capped by a data-size signal (r12, VERDICT-r11 #7): a KB-
    scale local corpus fanned 32 ways pays more in task scheduling and
    shuffle bookkeeping than the parallelism buys (the r11 scaling block
    read the LLM queries FASTER on 8 cores than 32 at sf0.1). The cap is
    purely a plan-width change — row values are untouched — and unwinds
    by construction at scale: any input past a few MB hits the
    defaultParallelism ceiling, the pre-r12 behavior."""
    return df.repartition(_spread_width(df))


def _spread_width(df: DataFrame) -> int:
    """The partition width ``_spread`` would use for ``df``: one slice
    per ``_SPREAD_BYTES_PER_SLICE`` source bytes, ceilinged at
    defaultParallelism. FEATURIZATION paths only (work ∝ input bytes);
    the vector operators keep full-width fan-out — see
    llm/similarity.py::_spread for the measured reason."""
    sc = df.sparkSession.sparkContext
    width = sc.defaultParallelism
    size = _plan_size_bytes(df)
    if size is not None and size > 0:
        width = min(width, max(1, -(-size // _SPREAD_BYTES_PER_SLICE)))
    return width


def _materialize(df: DataFrame) -> DataFrame:
    """Optimizer barrier for expensive featurization columns.

    Catalyst pushes filters (including the size>0/isnotnull ones it infers
    from explode) THROUGH projections by alias substitution — duplicating
    the expensive shingle/signature expression, and with higher-order
    lambdas each array access re-inlines its argument subtree, so the
    "cheap" inferred filter degenerates into re-tokenizing every document
    dozens of times, below the repartition (single-threaded on a one-file
    corpus). A plain projection split does not survive (column pruning +
    CollapseProject undo it); ``localCheckpoint(eager=False)`` does: the
    RDD boundary is opaque to the optimizer, so the features are computed
    exactly once, in parallel, and every downstream reference reads the
    materialized value. Executor-local storage; both sides of a self-join
    share the one materialization."""
    return df.localCheckpoint(eager=False)


def exact_dedup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """L1: one row per distinct content with the canonical (min) id and the
    duplicate count. ``sha2(content)`` as the group key keeps the shuffle
    rows small when content is large (hash, not the document, moves)."""
    return (
        df.groupBy(F.sha2(F.col(content_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _doc_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, sh: array<string>) — distinct shingle set per document, in
    first-occurrence order (``array_distinct`` semantics).

    Tokenize + shingle per Arrow batch in Python (``mapInPandas``).
    Higher-order array lambdas are interpreted (not codegen'd) in Spark,
    so this CPU-bound featurization is ~30% faster Arrow-batched than as
    expression folds. The whitespace regex mirrors Java's ASCII ``\\s+``
    exactly, so the shingles equal those of ``functions.text.shingles``
    over ``tokens`` and the DuckDB oracle.
    """
    import re

    import pandas as pd

    # Java regex \s is ASCII-only: [ \t\n\x0b\f\r]. Python \s would also
    # match unicode whitespace (e.g. \xa0) and silently diverge from
    # functions.text.tokens and the DuckDB oracle.
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def featurize(batches):
        for pdf in batches:
            sets = []
            for text in pdf[text_col]:
                toks = [t for t in ws.split(text.lower()) if t]
                if len(toks) >= n:
                    # dict.fromkeys == array_distinct: first-occurrence order
                    sets.append(
                        list(
                            dict.fromkeys(
                                " ".join(toks[i : i + n])
                                for i in range(len(toks) - n + 1)
                            )
                        )
                    )
                else:
                    sets.append([])
            yield pd.DataFrame({"doc": pdf[id_col], "sh": sets})

    id_type = dict(df.dtypes)[id_col]
    return _materialize(
        _spread(df)
        .select(id_col, text_col)
        .mapInPandas(featurize, schema=f"doc {id_type}, sh array<string>")
    )


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int,
                  shingle_sets: DataFrame | None = None) -> DataFrame:
    """(id, shingle) pairs, deduped per doc, plus per-doc shingle counts."""
    sh = shingle_sets if shingle_sets is not None else _doc_shingle_sets(
        df, id_col, text_col, n
    )
    return sh.select("doc", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """L2 (exact): all doc pairs with shingle-set Jaccard >= threshold via
    the inverted-index join. ``max_shingle_freq`` drops shingles occurring
    in more than that many docs — the skew guard that keeps the self-join
    linear-ish at corpus scale. ``shingle_sets`` (a precomputed
    ``_doc_shingle_sets`` frame) lets several dedup passes share ONE
    featurization — featurize-once is the 100 TB discipline."""
    ex = _doc_shingles(df, id_col, text_col, n, shingle_sets)
    if max_shingle_freq is not None:
        # Document frequency as a window count over the SAME shingle key
        # the self-join shuffles on (round-11 optimization, guide §2.4):
        # the former groupBy(shingle) + join-back paid a second full pass
        # over the postings (hash-agg build + 10M-row hash join probe);
        # the window pays one Exchange + sort and streams the filter.
        # Measured at sf1/local[32]: 2.67 s -> 0.78 s for the full query.
        # The barrier stops the a/b sides of the self-join from each
        # re-running the window pass (values identical, proven in
        # tests/test_round11_opt.py + the oracle row).
        from pyspark.sql import Window as _W

        ex = _materialize(
            ex.withColumn(
                "__df", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
            )
            .filter(F.col("__df") <= max_shingle_freq)
            .drop("__df")
        )
    a = ex.select(
        F.col("shingle"),
        F.col("doc").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = ex.select(
        F.col("shingle"),
        F.col("doc").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return inter.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def jaccard_delta_pairs(
    corpus_sets: DataFrame,
    delta_sets: DataFrame,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Incremental near-dup: for each DELTA doc, its Jaccard-over-threshold
    matches in corpus + delta — the daily-ingest dedup shape. Inputs are
    ``_doc_shingle_sets`` frames (featurize-once: the corpus frame is the
    standing index, re-used across ingest batches); ids must be disjoint
    across the two frames.

    Scale shape: ONLY delta-side postings drive the probe join — cost is
    |delta postings| x (capped posting-list length), never corpus² and
    never a corpus self-join. The hot-shingle cap applies to the COMBINED
    document frequency, same guard as the full-corpus pass (at production
    scale the corpus-side df is a maintained stat, not recomputed per
    batch). Delta-delta pairs emit once (new < match); delta-corpus pairs
    emit as (new, match). Denominators use full set sizes — only the join
    is capped — matching ``jaccard_pairs`` semantics."""

    def _ex(sets: DataFrame, tag: int) -> DataFrame:
        return sets.select(
            "doc",
            F.size("sh").alias("n_sh"),
            F.explode("sh").alias("shingle"),
            F.lit(tag).alias("is_delta"),
        )

    ex = _ex(corpus_sets, 0).unionByName(_ex(delta_sets, 1))
    if max_shingle_freq is not None:
        # same window-count cap as jaccard_pairs (round-11: one postings
        # Exchange instead of groupBy + join-back; barrier shares the
        # pass between the delta and match sides of the probe join)
        from pyspark.sql import Window as _W

        ex = _materialize(
            ex.withColumn(
                "__df", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
            )
            .filter(F.col("__df") <= max_shingle_freq)
            .drop("__df")
        )
    d = ex.filter(F.col("is_delta") == 1).select(
        "shingle", F.col("doc").alias("doc_new"), F.col("n_sh").alias("n_new")
    )
    m = ex.select(
        "shingle",
        F.col("doc").alias("doc_match"),
        F.col("n_sh").alias("n_match"),
        F.col("is_delta").alias("match_is_delta"),
    )
    inter = (
        d.join(m, "shingle")
        .filter(
            (F.col("match_is_delta") == 0)
            | (F.col("doc_new") < F.col("doc_match"))
        )
        .groupBy("doc_new", "doc_match", "n_new", "n_match")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_new") + F.col("n_match") - F.col("n_common")
    ).cast("double")
    return inter.select(
        "doc_new", "doc_match", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _minhash_sigs_arrow(sets: DataFrame, n_hashes: int) -> DataFrame:
    """(doc, sig: array<bigint>) via Arrow batches: ONE stable 64-bit base
    hash per shingle (pandas hash_array — fixed-key siphash, deterministic
    across runs/executors), then ``n_hashes`` universal multiply-shift
    derivations ``a_i*h + b_i (mod 2^64)`` vectorized in numpy.

    The whole Arrow batch is processed FLAT: every document's shingles
    concatenate into one array, hashed in a single ``hash_array`` call, and
    per-document minima come from ``np.minimum.reduceat`` over the segment
    offsets — no per-row Python loop, so the per-batch cost is n_hashes
    vectorized passes over the flattened shingle count regardless of how
    many documents the batch holds."""
    import numpy as np
    import pandas as pd
    from pandas.util import hash_array

    rng = np.random.RandomState(7)
    # odd multipliers -> bijections mod 2^64 (multiply-shift family)
    a = (rng.randint(0, 1 << 62, size=n_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=n_hashes).astype(np.uint64)

    def sig(batches):
        for pdf in batches:
            n_rows = len(pdf)
            lens = np.fromiter((len(s) for s in pdf["sh"]), dtype=np.int64,
                               count=n_rows)
            out = np.zeros((n_rows, n_hashes), dtype=np.uint64)
            nonempty = lens > 0
            if nonempty.any():
                flat = np.concatenate(
                    [np.asarray(s, dtype=object) for s in pdf["sh"] if len(s)]
                )
                h = hash_array(flat)  # uint64, one call for the whole batch
                offsets = np.zeros(n_rows, dtype=np.int64)
                np.cumsum(lens[:-1], out=offsets[1:])
                # reduceat mishandles zero-length segments (it returns the
                # element AT the offset) — reduce only non-empty ones;
                # empty docs keep the all-zero signature
                ne_off = offsets[nonempty]
                ne_min = np.empty((int(nonempty.sum()), n_hashes), dtype=np.uint64)
                for i in range(n_hashes):
                    ne_min[:, i] = np.minimum.reduceat(a[i] * h + b[i], ne_off)
                out[nonempty] = ne_min
            yield pd.DataFrame(
                {"doc": pdf["doc"], "sig": out.astype(np.int64).tolist()}
            )

    id_type = dict(sets.dtypes)["doc"]
    return sets.select("doc", "sh").mapInPandas(
        sig, schema=f"doc {id_type}, sig array<bigint>"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_sets: DataFrame | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """L2 candidates: (doc_a, doc_b) sharing at least one LSH band.

    rows-per-band r = n_hashes/bands; collision probability for Jaccard j
    is 1-(1-j^r)^b (r=4,b=8: j=0.5 -> 0.42, j=0.8 -> 0.98). Deterministic —
    signatures come from a fixed-key base hash and seeded numpy
    derivations (``_minhash_sigs_arrow``: one vectorized pass instead of
    n_hashes interpreted array folds).

    ``max_band_bucket`` (the round-10 scale guard, measured not guessed:
    the sf10 probe put uncapped minhash at scaling exponent 1.77 — a
    low-shingle-diversity corpus, exactly what boilerplate-heavy web data
    looks like, grows band-bucket pair counts ~n²): a (band, bucket)
    group larger than the cap emits STAR edges — bucket-min doc paired
    with each other member, O(k) instead of O(k²) — which preserves
    connected-component structure for dedup (every member still reaches
    the rest through the hub) while bounding the verify join. Giant
    buckets are near-identical boilerplate clusters in practice; the
    downstream exact-Jaccard verify keeps precision at 1.0 either way.
    None (the default) disables the cap — oracle rows stay bit-exact."""
    r = n_hashes // bands
    docs = (
        shingle_sets
        if shingle_sets is not None
        else _doc_shingle_sets(df, id_col, text_col, n)
    ).filter(F.size("sh") > 0)
    # barrier: both sides of the band self-join (and, when capped, the
    # bucket-size window) read the signatures; the checkpoint runs the
    # signature kernel once for all of them.
    sig = _materialize(_minhash_sigs_arrow(docs, n_hashes))
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", band * r + j + 1) for j in range(r)]
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    if max_band_bucket is not None:
        # one window pass on the same (band, bucket) key the join
        # shuffles on: size + hub per bucket, then all-pairs for small
        # buckets and hub-star edges for oversized ones.
        #
        # r12 measured-and-REJECTED restructures (guide §1 discipline —
        # banked so a future round doesn't re-derive them; numbers are
        # the capped candidate stage at sf1/local[32], min-of-3 noop,
        # r11 shape = 1.22 s):
        # 1. localCheckpoint on the sized frame (one derivation shared
        #    by the three consumers instead of three
        #    Generate+Exchange+Sort+Window passes): 2.11 s. The barrier
        #    stores the full postings and serializes the broadcast-
        #    build job behind the checkpoint job; the saved passes are
        #    24-byte-narrow and cheaper than the barrier at every
        #    measurable SF.
        # 2. groupBy(band,bucket) stats + KB-scale barrier holding only
        #    the OVERSIZED buckets, membership via map-side broadcast
        #    anti/inner joins (one narrow shuffle instead of three):
        #    1.92 s — the extra sequential job for the tiny checkpoint
        #    plus a fourth Generate derivation outweigh the saved
        #    exchanges here too.
        # The exchanges this shape pays carry (doc int64, band int,
        # bucket int64) only — the banded key is already the narrow
        # proxy the guide's §8 asks for; there is no signature payload
        # to slim (VERDICT-r11 #4's premise).
        from pyspark.sql import Window as _W

        w = _W.partitionBy("band", "bucket")
        sized = banded.withColumns(
            {
                "__bsz": F.count(F.lit(1)).over(w),
                "__hub": F.min("doc").over(w),
            }
        )
        small = sized.filter(F.col("__bsz") <= max_band_bucket)
        a = small.select("band", "bucket", F.col("doc").alias("doc_a"))
        b = small.select("band", "bucket", F.col("doc").alias("doc_b"))
        pairs = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        star = (
            sized.filter(
                (F.col("__bsz") > max_band_bucket)
                & (F.col("doc") != F.col("__hub"))
            )
            .select(
                F.col("__hub").alias("doc_a"),
                F.col("doc").alias("doc_b"),
            )
        )
        return pairs.unionAll(star).distinct()
    a = banded.select("band", "bucket", F.col("doc").alias("doc_a"))
    b = banded.select("band", "bucket", F.col("doc").alias("doc_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_sets: DataFrame | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """L2 (scale path): LSH candidates verified with exact Jaccard — output
    is a SUBSET of ``jaccard_pairs`` (precision 1.0; recall set by b/r).
    The verify join touches only candidate pairs, not the corpus square.
    ``max_band_bucket`` bounds degenerate buckets (see
    minhash_lsh_candidates) — the production default for boilerplate-
    heavy corpora; None keeps the exact uncapped candidate set."""
    docs = (
        shingle_sets
        if shingle_sets is not None
        else _doc_shingle_sets(df, id_col, text_col, n)
    )
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n, n_hashes, bands,
        shingle_sets=docs, max_band_bucket=max_band_bucket,
    )
    a = docs.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    # Single-evaluation verify (round-11, guide §7.2 "duplicated
    # subtrees"): computing jaccard in a projection and filtering on it
    # lets Catalyst push the threshold into the join CONDITION, so every
    # candidate pair paid array_intersect twice (condition + projection)
    # — the dominant term of the whole operator (measured 3.7 s of 4.5 s
    # at sf1). Materializing the raw counts first pins ONE intersect per
    # pair; the rows that cross the barrier are three scalars per
    # candidate. sf1/local[32]: 4.45 s -> 2.89 s, values identical.
    scored = _materialize(
        joined.select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("__n_common"),
            F.size("sh_a").alias("__n_a"),
            F.size("sh_b").alias("__n_b"),
        )
    )
    jac = F.col("__n_common").cast("double") / (
        F.col("__n_a") + F.col("__n_b") - F.col("__n_common")
    ).cast("double")
    return scored.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


#: Portable polynomial token hash — identical arithmetic is expressible in
#: any ANSI-SQL engine (chars fold, modular), so SimHash built on it has a
#: bit-exact cross-engine oracle. 2^31-1 keeps every intermediate < 2^39
#: (no ANSI bigint overflow); 131 is the classic string-hash base.
PORTABLE_HASH_MOD = 2_147_483_647
PORTABLE_HASH_BASE = 131


def portable_token_hash(t: Column) -> Column:
    """Per-token polynomial hash ``fold(h*131 + codepoint) mod (2^31-1)`` —
    the cross-engine-reproducible alternative to xxhash64."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(t.substr(i, F.lit(1))).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda h, c: (h * PORTABLE_HASH_BASE + c) % PORTABLE_HASH_MOD,
    )


def simhash_signature(text: Column, n_bits: int = 64, token_hash=None) -> Column:
    """``n_bits``-bit SimHash of the whitespace tokens, as a bigint.

    Per token a hash votes +1/-1 on each bit; the signature takes the sign
    of each bit's total. One aggregate fold over an n_bits-slot vote array —
    no explode, no shuffle. ``token_hash`` defaults to xxhash64 (fast JVM
    path); pass ``portable_token_hash`` for the oracle-reproducible variant.
    """
    token_hash = token_hash or F.xxhash64
    toks = tokens(text)
    votes = F.aggregate(
        F.transform(toks, lambda t: token_hash(t)),
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            # bit index must be a Python literal (shiftright takes an int,
            # not a Column), so the vote array is built explicitly
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    )
                    .otherwise(F.lit(-1))
                    .cast("bigint")
                    for i in range(n_bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    sig = F.lit(0).cast("bigint")
    for i in range(n_bits):
        # shiftleft(1L, 63) wraps to min-long in the JVM — exactly the bit
        # pattern we want (a Python 1<<63 literal would overflow LongType)
        sig = sig.bitwiseOR(
            F.when(
                F.element_at(votes, i + 1) > 0,
                F.shiftleft(F.lit(1).cast("bigint"), i),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return sig


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """L2 via SimHash: pairs within ``max_hamming`` bits. Banding the
    ``n_bits`` signature into ``blocks`` equal blocks guarantees (pigeonhole)
    that any pair with <= blocks-1 differing bits collides on some block, so
    the bucket join is exhaustive for max_hamming <= blocks-1."""
    width = n_bits // blocks
    mask = (1 << width) - 1
    sigs = _materialize(
        _spread(df).select(
            F.col(id_col).alias("doc"),
            simhash_signature(F.col(text_col), n_bits, token_hash).alias("sig"),
        )
    )
    banded = sigs.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright("sig", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select("doc", "sig", "bk.block", "bk.key")
    a = banded.select("block", "key", F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = banded.select("block", "key", F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    pairs = (
        a.join(b, ["block", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def _delete_neighborhood(s, max_dist: int):
    """Array column: ``s`` plus every string reachable by deleting up to
    ``max_dist`` characters (SymSpell candidate keys). |neighborhood| is
    1 + L + L(L-1)/2 at max_dist=2 — quadratic in STRING length, constant
    in corpus size, the trade that keeps the join linear."""
    L = F.length(s)
    del1 = F.transform(
        F.sequence(F.lit(1), L),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, L)),
    )
    arrs = [F.array(s), del1]
    if max_dist >= 2:
        # delete positions i < j of the ORIGINAL string; outer i stops at
        # L-1 (guarded: sequence(1, 0) would run descending on L=1)
        del2 = F.when(
            L >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), L - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, L),
                        lambda j: F.concat(
                            s.substr(F.lit(1), i - 1),
                            s.substr(i + 1, j - i - 1),
                            s.substr(j + 1, L),
                        ),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        arrs.append(del2)
    return F.array_distinct(F.concat(*arrs))


def fuzzy_pairs(
    df: DataFrame, id_col: str, str_col: str, max_dist: int = 1
) -> DataFrame:
    """All id pairs whose strings are within edit distance ``max_dist``
    (1 or 2; SymSpell deletion-neighborhood join) — entity-resolution
    dedup for names, URLs, near-identical titles.

    Candidate generation is EXACT for distance <= d: whenever
    ``levenshtein(a, b) <= d``, deleting at most d characters from each
    maps both onto a common string (delete the insert-side extras and the
    substitute positions), so bucketing each string on its delete-<=d
    neighborhood has full recall by construction — no all-pairs compare,
    and bucket fan-out is bounded by true near-match group sizes, not
    corpus size. Candidates verify with one ``levenshtein`` call scored
    inside the join projection; the dedup distinct keys on (id, id, dist)
    scalars only.
    """
    if max_dist not in (1, 2):
        raise ValueError("fuzzy_pairs supports max_dist 1 or 2")
    variants = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.explode(
            _delete_neighborhood(F.col(str_col), max_dist)
        ).alias("__v"),
    )
    a = variants.select(
        F.col("__v"), F.col("__id").alias("id_a"), F.col("__s").alias("sa")
    )
    b = variants.select(
        F.col("__v"), F.col("__id").alias("id_b"), F.col("__s").alias("sb")
    )
    return (
        a.join(b, "__v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.levenshtein("sa", "sb").alias("dist")
        )
        .distinct()
        .filter(F.col("dist") <= max_dist)
    )


def fuzzy_pairs_dist1(
    df: DataFrame, id_col: str, str_col: str
) -> DataFrame:
    """Edit-distance-1 specialization of ``fuzzy_pairs``."""
    return fuzzy_pairs(df, id_col, str_col, max_dist=1)


def normalize_text(text):
    """Canonical text form for normalization-aware dedup: lowercase, strip
    punctuation, collapse runs of whitespace, trim. Catches the
    near-trivial duplicates exact hashing misses (case/punct/spacing
    variants) before the expensive fuzzy passes run — every production
    dedup pipeline normalizes before hashing. Pure codegen'd string
    expressions; the regexes are ASCII-safe so any engine reproduces them
    byte-for-byte."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[\.,;:!\?'\"()\[\]{}]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def normalized_dedup_groups(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """L1 variant: exact dedup over the NORMALIZED content — same
    hash-shuffle shape as ``exact_dedup_groups`` (the 32-byte digest
    moves, never the document), keyed on the canonical form."""
    return (
        df.groupBy(
            F.sha2(normalize_text(F.col(content_col)), 256).alias(
                "norm_hash"
            )
        )
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
