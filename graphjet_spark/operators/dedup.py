"""Document deduplication operators for training-data pipelines.

Five families, each scale-designed (the ``documents`` table at 100 TB):

- exact:       hash-groupBy on content (JVM-side xxhash64, one shuffle);
- n-gram Jaccard and containment: one set-similarity join core —
               exact-dup class collapse, then exact intersections by
               blocked bitset popcount, blocked posting-run match or
               prefix-filtered (AllPairs / PPJoin) candidates, chosen
               by vocabulary size;
- MinHash+LSH: JVM-expression signatures over cross-engine md5-prefix
               shingle hashes, banded into LSH buckets, candidate pairs
               from bucket joins only — never all-pairs;
- SimHash:     60-bit fingerprints (bitwise vote sums as JVM aggregate
               expressions), near-dup = hamming distance <= k via
               band-exact pigeonhole prefilter;
- embedding cosine: block-GEMM candidate join + exact JVM rescore; the
               sublinear LSH path for true near-dup thresholds is
               embedding_near_dups_lsh (machinery in operators/ann.py).

GraphJet precedent for the dedup discipline: explicit seen-set
dedup before aggregation (reference: graphjet-core/src/main/java/com/
twitter/graphjet/algorithms/counting/TopSecondDegreeByCount.java:99-103)
and Monte-Carlo-free deterministic formulations (SURVEY.md §2.8 R7).

All Python-side kernels are pandas/numpy over Arrow batches — no
per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphjet_spark.functions.hashing import md5_prefix_bigint

# ----------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (keep_id, n_copies) — keep the smallest
    doc_id per identical text.  One hash shuffle; the content itself is
    reduced to xxhash64 pre-shuffle so wide text never moves."""
    h = docs.select(
        F.col("doc_id"), F.xxhash64(text_col).alias("h"), F.col(text_col)
    )
    return (
        h.groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# -------------------------------------------------- n-gram Jaccard (exact)


def gram_expr(text_col: str, n: int):
    """Array column of token n-grams over whitespace tokens, JVM-side.
    Docs with fewer than ``n`` tokens yield an empty array (guarded:
    ``sequence(0, size-n)`` is descending when size < n and ``slice``
    with a descending index throws)."""
    if n == 1:
        return F.split(F.col(text_col), r"\s+")
    # bind the split ONCE per row via a 1-element-array lambda: inlining
    # the split inside the window lambda re-tokenizes the whole text per
    # gram index (O(len^2) per doc); same output byte-for-byte.
    toks = f"split({text_col}, '\\\\s+')"
    return F.expr(
        f"element_at(transform(array({toks}), a -> "
        f"CASE WHEN size(a) >= {n} THEN "
        f"transform(sequence(0, size(a) - {n}), "
        f"i -> concat_ws(' ', slice(a, i + 1, {n}))) "
        f"ELSE array() END), 1)"
    )


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition a narrow input up to defaultParallelism when it
    arrives as fewer splits.  A small corpus lands in one parquet split
    and would pin a compute-heavy scan stage (gram explode, md5 per
    shingle) to one core — the reason exact_substring_pairs ran 12.5x
    on 10x data in the sf1 soak.  At scale the file splits already
    provide the parallelism and this is a no-op."""
    spark = docs.sparkSession
    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return docs


def token_sets(docs: DataFrame, text_col: str = "text", n: int = 1) -> DataFrame:
    """(doc_id, tok) distinct token n-grams, built JVM-side: split +
    transform/slice for n>1 (no UDF)."""
    docs = _spread(docs)
    return (
        docs.select("doc_id", F.explode(gram_expr(text_col, n)).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    n: int = 1,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.  Output
    (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded to 6.

    Exact-duplicate token sets collapse into classes
    (:func:`_class_structures`), qualifying class pairs come from the
    set-similarity join core (:func:`_class_pairs`: bitset popcount,
    blocked posting-run intersection or AllPairs/PPJoin prefix
    filtering, chosen by vocabulary size) and expand back to member doc
    pairs (:func:`_expand`)."""
    m = _Measure("jaccard", threshold)
    cs = _class_structures(docs, n=n, text_col=text_col)
    return _expand(_class_pairs(cs, m), cs[0], m)


# ------------------------------------------- set-similarity join core
#
# n-gram Jaccard, the keep-lists and containment pairs/top-k run one
# pipeline: exact-dup class collapse -> qualifying class pairs in one of
# three regimes, chosen by the vocabulary size V alone -> class->doc
# expansion.  A measure contributes only its score, its symmetry and
# the bounds its filters use (_Measure).

# Bitset regime bound: V <= 256 grams = at most 4 words (32 bytes) per
# class bitset, so exact intersections over ALL class pairs by
# popcount-AND beat any filter — on a dense vocabulary even the rarest
# prefix gram is shared by a large fraction of all classes and prefix
# candidates degenerate toward all-pairs (measured at sf1: V=40, 127.5M
# candidates from 35k classes, 560s in the join + verify).
_BITSET_VOCAB_MAX = 256

# Blocked regime bound: up to this V, gram df is still high enough that
# prefix filtering degenerates (measured: the sf10 dense-vocab
# containment census spilled 127.5M+ candidates past a 78 GB disk),
# while per-class posting arrays stay small enough that every block
# pair is one in-task intersection with NO materialized candidate
# relation.  Above it, real-web sparse vocabularies make the
# AllPairs/PPJoin prefix filter actually prune.
_BLOCK_VOCAB_MAX = 1 << 17

# byte -> popcount lookup (numpy 1.26 has no bitwise_count)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


@dataclass(frozen=True)
class _Measure:
    """What a set-similarity measure contributes to the join core.

    ``col`` names the measure and its output column: ``jaccard``
    i/(|A|+|B|-i) is symmetric, ``containment`` i/|A| (A contained in
    B) is not.  The final JVM filter is round(score, round_to) >=
    threshold, so a raw score as low as threshold - 0.5*10^-round_to
    still qualifies; every in-task prefilter and every prefix, size and
    positional bound uses ``t_lo``, which keeps exactly that (less a
    float guard), so the filters only ever err toward keeping."""

    col: str
    threshold: float
    round_to: int = 6

    @property
    def symmetric(self) -> bool:
        return self.col == "jaccard"

    @property
    def t_lo(self) -> float:
        return self.threshold - (0.5 * 10.0**-self.round_to + 1e-9)

    @property
    def tie_slack(self) -> float:
        """Two raw scores that round to the same ``round_to`` decimals
        differ by less than this."""
        return 10.0**-self.round_to + 1e-9

    def score(self, i, sa, sb):
        """The measure over intersection ``i`` and the set sizes — numpy
        arrays or Spark columns alike (both divide in float64)."""
        return i / (sa + sb - i) if self.symmetric else i / sa

    def min_overlap(self, sa, sb):
        """The smallest intersection at which a pair can still qualify."""
        t = self.t_lo
        return (sa + sb) * (t / (1.0 + t)) if self.symmetric else sa * t


def _class_structures(
    docs: DataFrame, *, n: int, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Exact-dup class collapse: (classes, reps, cgrams, rtoks, dfreq).

    - classes: (doc_id, cls, sz, grams) per doc;
    - reps: (cls, rep) per class, rep = its minimum doc_id;
    - cgrams: (cls, sz, grams) per class, grams sorted;
    - rtoks: (cls, sz, tok) per class gram; dfreq: (tok, df).

    Near-dup corpora are dominated by exact-dup classes; every member
    of a class scores the same against everything else, so similarity
    runs once per class and expands back to member pairs by joins — the
    pair work shrinks from (class size)^2 to 1 per class pair (without
    it the containment intersection fan-out hit AGGREGATE_OUT_OF_MEMORY
    at sf1, where dup classes hold hundreds of docs).  Class key = hash
    of the sorted gram list, so identical sets ingested at different
    times land in the SAME class (what makes delta ingest exact).
    Eager checkpoints: classes and cgrams each feed several consumers,
    and leaving them lazy replicates the whole upstream chain into one
    giant plan (measured 3x slower from planning + recompute)."""
    classes = (
        token_sets(docs, text_col, n)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tok")).alias("grams"))
        .select(
            "doc_id",
            F.xxhash64(F.concat_ws("\x1f", "grams")).alias("cls"),
            F.size("grams").alias("sz"),
            "grams",
        )
        .localCheckpoint(eager=True)
    )
    reps = classes.groupBy("cls").agg(F.min("doc_id").alias("rep"))
    cgrams = (
        classes.join(
            reps.select(F.col("rep").alias("doc_id"), "cls"), ["cls", "doc_id"]
        )
        .select("cls", "sz", "grams")
        .localCheckpoint(eager=True)
    )
    rtoks = cgrams.select("cls", "sz", F.explode("grams").alias("tok"))
    dfreq = rtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return classes, reps, cgrams, rtoks, dfreq


def _class_pairs(
    cs: tuple[DataFrame, ...],
    m: _Measure,
    *,
    new_cls: DataFrame | None = None,
    k: int | None = None,
) -> DataFrame:
    """Qualifying distinct-class pairs ``(ca, cb, <m.col>)`` over the
    :func:`_class_structures` ``cs`` — unordered as ca < cb for a
    symmetric measure, ordered (ca in cb) for an asymmetric one.

    The regime is chosen here, from the vocabulary size V alone:

    - V <= _BITSET_VOCAB_MAX: blocked bitset popcount;
    - V <= _BLOCK_VOCAB_MAX: blocked posting-run intersection;
    - otherwise: prefix/size/positional-filtered candidates, verified
      by row-local ``array_intersect``.

    Every regime yields exact integer intersections with both set
    sizes; the score and the threshold are evaluated JVM-side on them,
    so values are identical across regimes and to any SQL oracle.

    ``new_cls`` (delta-ingest mode): a (cls) relation restricting the
    output to pairs with at least one side in it — quadratic work
    |new| x |all| instead of |all|^2/2, recall 1.0 in every regime.
    ``k``: in-task top-k retention per contained class (blocked
    regimes; the prefix regime emits the full census)."""
    _, _, cgrams, _, dfreq = cs
    vocab = dfreq.count()
    if vocab > _BLOCK_VOCAB_MAX:
        pairs = _prefix_cls_pairs(cs, m, new_cls)
    else:
        pairs = _blocked_cls_pairs(
            cgrams, m, bitset=vocab <= _BITSET_VOCAB_MAX, new_cls=new_cls, k=k
        )
    score = F.round(m.score(F.col("i"), F.col("sza"), F.col("szb")), m.round_to)
    return pairs.select("ca", "cb", score.alias(m.col)).filter(
        F.col(m.col) >= m.threshold
    )


def _block_pair_cogroup(
    rows: DataFrame,
    id_col: str,
    block_rows: int,
    kernel,
    schema: str,
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """Blocked all-pairs layout, shared by the class-pair kernel and
    :func:`embedding_near_dups`: rows hash into
    B = ceil(n / block_rows) blocks, and each of the B*(B+1)/2 block
    pairs (bi <= bj) is ONE cogrouped-Arrow task
    ``kernel((bi, bj), a_pdf, b_pdf)`` over block bi (a side) and block
    bj (b side).  No pair relation is ever shuffled; per-task memory is
    bounded by two blocks; each row is shuffled B times.  On the
    diagonal (bi == bj) both sides hold the same rows.

    ``new_ids`` (delta mode): the rows whose ``id_col`` is in it (a
    side) are replicated to every block of the full set (b side) under
    keys (0, bj) — |new| x |all| coverage, no diagonal; a new-new pair
    is evaluated in both orders.  The new side is checkpointed: that
    materializes it once and breaks the self-join lineage that cogroup
    rejects as ambiguous."""
    n_blocks = max(1, -(-rows.count() // block_rows))
    cols = rows.columns
    blocked = rows.withColumn(
        "blk", F.pmod(F.xxhash64(id_col), F.lit(n_blocks)).cast("int")
    )
    # the b side re-aliases its columns: a cogroup of two projections of
    # one relation otherwise hands the kernel the a side's attributes for
    # both, and once a consumer leaves a kernel output column unused,
    # column pruning drops the b side's payload (measured on Spark 4.1)
    b_cols = [F.col(c).alias(c) for c in cols]
    if new_ids is None:
        a_rep = blocked.select(
            *cols, F.col("blk").alias("bi"),
            F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        )
        b_rep = blocked.select(
            *b_cols,
            F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
            F.col("blk").alias("bj"),
        )
    else:
        a_rep = (
            rows.join(new_ids, id_col)
            .localCheckpoint(eager=True)
            .select(
                *cols, F.lit(0).alias("bi"),
                F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("bj"),
            )
        )
        b_rep = blocked.select(*b_cols, F.lit(0).alias("bi"), F.col("blk").alias("bj"))
    return (
        a_rep.groupby("bi", "bj")
        .cogroup(b_rep.groupby("bi", "bj"))
        .applyInPandas(kernel, schema=schema)
    )


def _gather_ragged(
    vals: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Concatenate vals[starts[r] : starts[r]+counts[r]] over all r
    without a Python loop (exclusive-cumsum index arithmetic)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=vals.dtype)
    excl = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.arange(total, dtype=np.int64) + np.repeat(starts - excl, counts)
    return vals[idx]


def _postings(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A block's gram postings ``(gram ids, owning row)``, by gram."""
    gids = [np.asarray(g, dtype=np.int64) for g in pdf["gids"]]
    grams = np.concatenate(gids)
    rows = np.repeat(np.arange(len(gids), dtype=np.int64), [len(g) for g in gids])
    order = np.argsort(grams, kind="stable")
    return grams[order], rows[order]


def _bitset_intersections(a, b, n_a: int, n_b: int) -> np.ndarray:
    """Intersection counts (n_a x n_b int32) of two blocks' postings by
    popcount(AND) over per-class bitsets of the pair's local vocabulary
    (at most V grams, so at most V/64 words per class), strip-chunked
    so the AND temporary stays ~32 MB."""
    (ga, ra), (gb, rb) = a, b
    vocab = np.unique(np.concatenate([ga, gb]))
    w = -(-len(vocab) // 64)

    def _bits(g, r, n):
        t = np.searchsorted(vocab, g)
        x = np.zeros(n * w, dtype=np.uint64)
        # a class's grams are distinct, so adding its bits ORs them
        bit = np.left_shift(np.uint64(1), (t % 64).astype(np.uint64))
        np.add.at(x, r * w + t // 64, bit)
        return x.reshape(n, w)

    A, B = _bits(ga, ra, n_a), _bits(gb, rb, n_b)
    M = np.empty((n_a, n_b), dtype=np.int32)
    strip = max(1, (1 << 22) // (n_b * w))
    for s in range(0, n_a, strip):
        e = min(s + strip, n_a)
        M[s:e] = (
            _POP8[(A[s:e, None, :] & B[None, :, :]).view(np.uint8)]
            .reshape(e - s, n_b, -1)
            .sum(axis=2)
        )
    return M


def _posting_intersections(a, b, n_a: int, n_b: int) -> np.ndarray:
    """Intersection counts (n_a x n_b int32) of two blocks' postings by
    run match: for every gram both blocks hold, cartesian-expand its
    two posting runs in bounded chunks and ``bincount`` the cells."""
    (ga, ra), (gb, rb) = a, b
    ua, a_st, a_ct = np.unique(ga, return_index=True, return_counts=True)
    ub, b_st, b_ct = np.unique(gb, return_index=True, return_counts=True)
    _, ia, ib = np.intersect1d(ua, ub, assume_unique=True, return_indices=True)
    a_st, a_ct, b_st, b_ct = a_st[ia], a_ct[ia], b_st[ib], b_ct[ib]
    # int32 accumulator (counts are bounded by gram-set sizes);
    # bincount's int64 chunk result is folded in with a same-kind
    # in-place cast, halving the persistent per-task matrix
    M = np.zeros(n_a * n_b, dtype=np.int32)
    csum = np.cumsum(a_ct * b_ct)
    chunk = 1 << 22
    lo = 0
    while lo < len(csum):
        hi = int(np.searchsorted(csum, (csum[lo - 1] if lo else 0) + chunk)) + 1
        hi = min(max(hi, lo + 1), len(csum))
        act, bst, bct = a_ct[lo:hi], b_st[lo:hi], b_ct[lo:hi]
        # A elems of these runs, each repeated its run's b-count
        a_elems = _gather_ragged(ra, a_st[lo:hi], act)
        A_idx = np.repeat(a_elems, np.repeat(bct, act))
        # B slices per (run, a-elem): same order as A expansion
        B_idx = _gather_ragged(rb, np.repeat(bst, act), np.repeat(bct, act))
        M += np.bincount(A_idx * n_b + B_idx, minlength=n_a * n_b)
        lo = hi
    return M.reshape(n_a, n_b)


def _blocked_cls_pairs(
    cgrams: DataFrame,
    m: _Measure,
    *,
    bitset: bool,
    new_cls: DataFrame | None,
    k: int | None,
) -> DataFrame:
    """Dense-vocabulary regimes: class pairs ``(ca, cb, i, sza, szb)``
    with exact intersections, each block pair of
    :func:`_block_pair_cogroup` one in-task intersection matrix (the
    set analogue of :func:`embedding_near_dups`' block GEMM) — bitset
    popcount or posting-run match.  Gram identity in-task is xxhash64
    of the gram string (no global id assignment, no single-partition
    window); a 64-bit collision between distinct grams of one corpus is
    ~V^2 / 2^65 likely.

    Only cells scoring >= ``t_lo`` leave the task.  A symmetric measure
    emits each unordered pair once as ca < cb; an asymmetric one reads
    both directions off the one matrix (rows: a in b, the transpose:
    b in a).  ``k``: per contained class, only the cells within
    ``tie_slack`` of its k-th best raw score are kept, so no candidate
    that could tie at the k-th value after the final ROUND is dropped
    before the exact JVM ranking — the emitted stream is
    ~n_cls * n_blocks * k rows instead of the full census."""
    cids = cgrams.select(
        "cls", "sz", F.expr("transform(grams, g -> xxhash64(g))").alias("gids")
    ).localCheckpoint(eager=True)
    intersections = _bitset_intersections if bitset else _posting_intersections
    delta = new_cls is not None
    t_lo, slack = m.t_lo, m.tie_slack

    def _emit(M, ids_r, ids_c, s_r, s_c):
        score = m.score(M, s_r[:, None], s_c[None, :])
        ok = (score >= t_lo) & (ids_r[:, None] != ids_c[None, :])
        if k is not None and ok.any():
            n_c = score.shape[1]
            take = min(k, n_c)
            kth = np.partition(np.where(ok, score, -1.0), n_c - take, axis=1)[
                :, n_c - take
            ]
            ok &= score >= np.maximum(kth[:, None] - slack, t_lo)
        rr, cc = np.nonzero(ok)
        return ids_r[rr], ids_c[cc], M[rr, cc], s_r[rr], s_c[cc]

    def _task(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame(
                {c: np.empty(0, np.int64) for c in ("ca", "cb", "i", "sza", "szb")}
            )
        ids_a, ids_b = a_pdf["cls"].to_numpy(), b_pdf["cls"].to_numpy()
        sa = a_pdf["sz"].to_numpy().astype(np.int64)
        sb = b_pdf["sz"].to_numpy().astype(np.int64)
        M = intersections(_postings(a_pdf), _postings(b_pdf), len(sa), len(sb))
        diag = not delta and key[0] == key[1]
        outs = [_emit(M, ids_a, ids_b, sa, sb)]
        if not (m.symmetric or diag):
            outs.append(_emit(M.T, ids_b, ids_a, sb, sa))
        ca, cb, ii, s1, s2 = (np.concatenate(c) for c in zip(*outs))
        if m.symmetric:
            # the diagonal holds every pair in both orders, any other
            # block pair holds it once, in no particular order
            if diag:
                keep = ca < cb
                ca, cb, ii, s1, s2 = ca[keep], cb[keep], ii[keep], s1[keep], s2[keep]
            swap = ca > cb
            ca, cb = np.where(swap, cb, ca), np.where(swap, ca, cb)
            s1, s2 = np.where(swap, s2, s1), np.where(swap, s1, s2)
        return pd.DataFrame(
            {"ca": ca, "cb": cb, "i": ii.astype(np.int64), "sza": s1, "szb": s2}
        )

    pairs = _block_pair_cogroup(
        cids,
        "cls",
        4096,  # classes per block: a 64 MB int32 intersection matrix
        _task,
        "ca bigint, cb bigint, i bigint, sza bigint, szb bigint",
        new_ids=new_cls,
    )
    return pairs.dropDuplicates(["ca", "cb"]) if delta else pairs


def _prefix_cls_pairs(
    cs: tuple[DataFrame, ...], m: _Measure, new_cls: DataFrame | None
) -> DataFrame:
    """Sparse-vocabulary regime: class pairs ``(ca, cb, i, sza, szb)``
    from AllPairs/SSJoin prefix-filtered candidates (Bayardo et al.
    WWW'07, Chaudhuri et al. ICDE'06) with PPJoin size and positional
    filters (Xiao et al. WWW'08), verified by row-local
    ``array_intersect`` over the classes' sorted gram arrays — never an
    exploded gram join + wide aggregate (a containment prefix at t=0.6
    is ~40% of each class's grams, and that shape generates OOM-grade
    aggregate input).

    Every class orders its grams by ascending global df (rarest first,
    ties by gram) and keeps the first sz - ceil(t_lo*sz) + 1.  A pair
    qualifies only with overlap >= t_lo*|A| (A the contained side;
    either side of a symmetric measure), so it shares a gram of A's
    prefix — recall 1.0 — while hot grams land in suffixes and never
    fan out.  A symmetric measure joins prefix to prefix (delta mode:
    the new classes' prefixes to the full prefix index, still exact by
    the symmetric prefix theorem); an asymmetric one joins the
    contained side's prefix to the container's full index.  Size
    filter: the needed overlap must fit in the smaller set.  Positional
    filter: a shared gram at positions (pa, pb) bounds the overlap by
    1 + min(|A|-pa, |B|-pb), and a qualifying pair's first shared gram
    (in both prefixes) passes it."""
    from pyspark.sql import Window

    _, _, cgrams, rtoks, dfreq = cs
    w = Window.partitionBy("cls").orderBy(F.asc("df"), F.asc("tok"))
    # eager: the df-order window feeds both sides of the candidate join
    posed = (
        rtoks.join(dfreq, "tok")
        .withColumn("pos", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    prefix = posed.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * m.t_lo) + 1
    )
    a = prefix if new_cls is None else prefix.join(new_cls, "cls")
    b = prefix if m.symmetric else posed
    sa, sb = F.col("sza"), F.col("szb")
    need = m.min_overlap(sa, sb)
    if m.symmetric and new_cls is None:
        pair = F.col("ca") < F.col("cb")
    else:
        pair = F.col("ca") != F.col("cb")
    cands = (
        a.select(
            F.col("cls").alias("ca"), F.col("sz").alias("sza"),
            F.col("pos").alias("pa"), "tok",
        )
        .join(
            b.select(
                F.col("cls").alias("cb"), F.col("sz").alias("szb"),
                F.col("pos").alias("pb"), "tok",
            ),
            "tok",
        )
        .filter(
            pair
            & (need <= F.least(sa, sb))
            & (1 + F.least(sa - F.col("pa"), sb - F.col("pb")) >= need)
        )
    )
    if m.symmetric:
        cands = cands.select(
            F.least("ca", "cb").alias("ca"), F.greatest("ca", "cb").alias("cb")
        )
    else:
        cands = cands.select("ca", "cb")
    cands = cands.distinct().localCheckpoint(eager=True)
    ga = cgrams.select(
        F.col("cls").alias("ca"), F.col("sz").alias("sza"), F.col("grams").alias("ga")
    )
    gb = cgrams.select(
        F.col("cls").alias("cb"), F.col("sz").alias("szb"), F.col("grams").alias("gb")
    )
    return (
        cands.join(ga, "ca")
        .join(gb, "cb")
        .select(
            "ca", "cb", F.size(F.array_intersect("ga", "gb")).alias("i"), "sza", "szb"
        )
    )


def _expand(
    cls_pairs: DataFrame, classes: DataFrame, m: _Measure, k: int | None = None
) -> DataFrame:
    """Class pairs -> doc pairs ``(doc_a, doc_b, <m.col>)``: cross-class
    pairs join both classes' members, same-class pairs score exactly
    1.0.  A symmetric measure emits doc_a < doc_b, an asymmetric one
    every ordered pair.

    ``k`` (asymmetric top-k): only a container class's k smallest
    members — k+1 for a doc's own class-mates, one of which is the doc
    itself — are expanded: every member of a class scores the same, so
    no larger member can place in a per-doc top-k ranked by
    (score DESC, doc_b ASC)."""
    from pyspark.sql import Window

    mem = classes.select("cls", "doc_id")
    mem_b = cross_b = mem
    if k is not None:
        mem_b = mem.withColumn(
            "_mrn", F.row_number().over(Window.partitionBy("cls").orderBy("doc_id"))
        ).filter(F.col("_mrn") <= k + 1)
        cross_b = mem_b.filter(F.col("_mrn") <= k)
    cross = cls_pairs.join(
        mem.select(F.col("cls").alias("ca"), F.col("doc_id").alias("da")), "ca"
    ).join(cross_b.select(F.col("cls").alias("cb"), F.col("doc_id").alias("db")), "cb")
    if m.symmetric:
        da, db = F.least("da", "db"), F.greatest("da", "db")
    else:
        da, db = F.col("da"), F.col("db")
    intra = (
        mem.select("cls", F.col("doc_id").alias("doc_a"))
        .join(mem_b.select("cls", F.col("doc_id").alias("doc_b")), "cls")
        .filter(
            F.col("doc_a") < F.col("doc_b")
            if m.symmetric
            else F.col("doc_a") != F.col("doc_b")
        )
        .select("doc_a", "doc_b", F.lit(1.0).alias(m.col))
    )
    return cross.select(da.alias("doc_a"), db.alias("doc_b"), m.col).unionByName(
        intra
    )


# ----------------------------------------------------------- MinHash + LSH

# 31-bit Mersenne prime: keeps a*x + b inside int64 (a, x < 2^31), so
# the permutation hashes are exact modular arithmetic, no wraparound —
# in Spark longs AND DuckDB BIGINTs, which is what makes the signatures
# cross-engine oracle-able.
_MERSENNE = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.uint64)
    return a, b


def _hash60(col):
    """60-bit engine-independent string hash: the first 15 hex chars of
    md5, parsed as an integer.  Identical in Spark
    (``conv(substr(md5(s),1,15),16,10)``) and DuckDB
    (``('0x'||substr(md5(s),1,15))::BIGINT``), so MinHash/SimHash
    outputs are value-checkable across engines — unlike xxhash64 /
    pd.util.hash_array, which are engine-private."""
    return md5_prefix_bigint(col)


def shingle_hashes(
    docs: DataFrame, *, n: int, text_col: str = "text", mod: int | None = None
) -> DataFrame:
    """(doc_id, h array<bigint>): 60-bit hashes of the distinct word
    n-grams built over the *non-empty* whitespace tokens — all JVM
    column expressions, no Python kernel.  ``mod`` optionally reduces
    each hash mod a prime (MinHash wants values < 2^31)."""
    docs = _spread(docs)
    w = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    staged = docs.select("doc_id", w.alias("w"))
    if n == 1:
        grams = F.col("w")
    else:
        grams = F.expr(
            f"CASE WHEN size(w) >= {n} THEN "
            f"transform(sequence(0, size(w) - {n}), "
            f"i -> concat_ws(' ', slice(w, i + 1, {n}))) "
            f"ELSE array() END"
        )
    h = F.transform(F.array_distinct(grams), _hash60)
    if mod is not None:
        h = F.transform(h, lambda x: x % F.lit(mod))
    # docs with no n-grams (shorter than n tokens, or empty) are
    # EXCLUDED: they carry no shingle evidence at this n, and keeping
    # them (e.g. with a sentinel signature) would declare every short
    # doc a near-dup of every other short doc
    return staged.select("doc_id", h.alias("h")).filter(F.size("h") > 0)


def minhash_signatures(
    docs: DataFrame,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    seed: int = 42,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures.

    Shingle hashes are JVM column expressions (cross-engine md5-prefix
    ints, :func:`shingle_hashes`); the 128 permutation minima run as ONE
    flat-batch numpy kernel over Arrow: concatenate every doc's hashes,
    then per hash function one vectorized ``(a*x+b) % p`` pass +
    ``minimum.reduceat`` over the doc offsets.  The loop is over the
    128 hash functions — never over rows.  Exact int64 arithmetic
    (a, x < 2^31 keeps products < 2^62), so values are identical to the
    DuckDB oracle's list-lambda evaluation; measured ~10x faster than
    both the nested-transform (interpreted higher-order lambdas) and
    explode+128-min-aggregate (128-column hash-agg update per shingle)
    JVM formulations.  Docs with no shingles are excluded upstream
    (shingle_hashes)."""
    a, b = _hash_params(num_hashes, seed)
    a64 = a.astype(np.int64)
    b64 = b.astype(np.int64)
    hs = shingle_hashes(docs, n=shingle_n, text_col=text_col, mod=_MERSENNE)

    def _sig(batches):
        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            arrs = [np.asarray(h, dtype=np.int64) for h in pdf["h"]]
            lens = np.array([len(x) for x in arrs], dtype=np.int64)
            sig = np.full((n_docs, len(a64)), _MERSENNE, dtype=np.int64)
            nonempty = lens > 0
            if nonempty.any():
                flat = np.concatenate([x for x in arrs if len(x)])
                offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
                np.cumsum(lens[nonempty][:-1], out=offsets[1:])
                for i in range(len(a64)):
                    vals = (a64[i] * flat + b64[i]) % _MERSENNE
                    sig[nonempty, i] = np.minimum.reduceat(vals, offsets)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": list(sig)})

    return hs.mapInPandas(_sig, schema="doc_id bigint, sig array<bigint>")


def minhash_lsh_candidates(
    signatures: DataFrame, *, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    The band bucket key is (band_idx, the band's signature slice as a
    string) — a plain shuffle key, so candidate generation is a groupBy,
    never an all-pairs product; the verbatim slice (vs hashing it) keeps
    the candidate set collision-free and thus exactly reproducible by
    the DuckDB oracle's band-equality predicate.  Output (doc_a, doc_b)
    distinct, doc_a < doc_b.
    """
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, concat_ws(',', transform(slice(sig, b * {rows_per_band} + 1, {rows_per_band}), x -> cast(x AS string))) AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    g1 = banded.alias("g1")
    g2 = banded.alias("g2")
    return (
        g1.join(
            g2,
            (F.col("g1.band") == F.col("g2.band"))
            & (F.col("g1.bucket") == F.col("g2.bucket"))
            & (F.col("g1.doc_id") < F.col("g2.doc_id")),
        )
        .select(
            F.col("g1.doc_id").alias("doc_a"), F.col("g2.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_dedup(
    docs: DataFrame,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash near-dup pairs: LSH candidates verified by estimated
    Jaccard (signature agreement) >= threshold.  Output
    (doc_a, doc_b, est_jaccard)."""
    rows_per_band = num_hashes // bands
    # lazy localCheckpoint (not persist): referenced 3x in the plan with
    # no safe unpersist point in a lazy API — checkpointing avoids
    # leaking cache registrations across long-lived sessions
    sigs = minhash_signatures(
        docs, num_hashes=num_hashes, shingle_n=shingle_n, seed=seed
    ).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates(sigs, bands=bands, rows_per_band=rows_per_band)
    s1 = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    s2 = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        cands.join(s1, "doc_a")
        .join(s2, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return est


# ------------------------------------------------------------------ SimHash


_SIMHASH_BITS = 60  # md5-prefix hashes carry 60 bits (15 hex chars)


def simhash_fingerprints(
    docs: DataFrame, *, shingle_n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash bigint): 60-bit SimHash over token n-gram
    hashes — per bit, the sign of the +1/-1 vote sum across shingles —
    built as 60 JVM ``aggregate`` expressions over the shingle-hash
    array (whole-stage codegen, no Python kernel, cross-engine
    reproducible via :func:`_hash60`)."""
    hs = shingle_hashes(docs, n=shingle_n, text_col=text_col)

    def _vote(b: int):
        return lambda acc, x: acc + (
            F.shiftright(x, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    fp = None
    for b in range(_SIMHASH_BITS):
        vote = F.aggregate("h", F.lit(0).cast("long"), _vote(b))
        term = F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return hs.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, *, max_hamming: int = 3, shingle_n: int = 2
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Prefilter: split the 60-bit fingerprint into max_hamming+1 bands —
    any pair within the distance budget must agree exactly on >= 1 band
    (pigeonhole), so candidates come from band-bucket joins, not
    all-pairs.  Output (doc_a, doc_b, hamming).
    """
    n_bands = max_hamming + 1
    width = _SIMHASH_BITS // n_bands
    fps = simhash_fingerprints(docs, shingle_n=shingle_n).localCheckpoint(
        eager=False
    )
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> struct(b AS band, shiftright(simhash, b * {width}) & {(1 << width) - 1} AS key))"
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    b1 = banded.alias("b1")
    b2 = banded.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.key") == F.col("b2.key"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_a"),
            F.col("b2.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("b1.simhash").bitwiseXOR(F.col("b2.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------ dedup keep-list


def _keep_graph(
    classes: DataFrame, reps: DataFrame, cls_pairs: DataFrame
) -> DataFrame:
    """(src, dst) edges of the compact connectivity-equivalent dup
    graph: a star from each exact-dup class's min member to its other
    members plus ONE rep-rep edge per qualifying class pair.  Its
    components (and hence keep_id = component min) are those of the
    expanded member-pair clique graph, with O(docs + class pairs) edges
    instead of O(sum class_size^2)."""
    star = (
        classes.join(reps, "cls")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
    )
    cross = (
        cls_pairs.join(
            reps.select(F.col("cls").alias("ca"), F.col("rep").alias("src")), "ca"
        )
        .join(reps.select(F.col("cls").alias("cb"), F.col("rep").alias("dst")), "cb")
        .select("src", "dst")
    )
    return star.unionByName(cross)


def _keep_ids(docs: DataFrame, comp: DataFrame) -> DataFrame:
    """(doc_id, keep_id): the doc's component min, or itself when the
    doc is in no pair."""
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("keep_id")
        )
    )


def dedup_keep_list(
    docs: DataFrame,
    *,
    n: int = 1,
    threshold: float = 0.9,
    text_col: str = "text",
    cc_fixed_iters: int | None = None,
) -> DataFrame:
    """End-to-end dedup pipeline: near-dup pairs -> connected components
    over the pair graph -> one canonical keeper per cluster (the
    CCNet/RefinedWeb keep-list shape).

    Returns (doc_id, keep_id): keep_id = min doc id of the doc's
    near-dup cluster (docs in no pair keep themselves).  A downstream
    pipeline keeps rows where doc_id == keep_id.

    ``cc_fixed_iters``: None runs the log-round large-star/small-star
    contraction to convergence (the scale path); an int runs exactly
    that many hash-min flooding supersteps — the oracle-parity mode
    (DuckDB unrolls the same fixed iteration count, so engine and
    oracle agree even on a hypothetical cluster chain longer than the
    budget).

    The convergence path never materializes the quadratic all-pairs
    dup graph: CC only needs connectivity, so it runs over
    :func:`_keep_graph` — the expanded graph at sf1 is 93.5M edges for
    50k docs and OOMs the no-op gate budget long before 100x.  The
    fixed-iters parity mode keeps the expanded graph: hash-min flooding
    depth depends on the graph SHAPE, and the oracle unrolls its rounds
    over the expanded pair graph.
    """
    spark = docs.sparkSession
    from graphjet_spark.plans.components import (
        connected_components,
        connected_components_star,
    )

    if cc_fixed_iters is None:
        cs = _class_structures(docs, n=n, text_col=text_col)
        cls_pairs = _class_pairs(cs, _Measure("jaccard", threshold))
        comp = connected_components_star(spark, _keep_graph(*cs[:2], cls_pairs))
    else:
        pairs = ngram_jaccard_pairs(
            docs, n=n, threshold=threshold, text_col=text_col
        ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        comp = connected_components(spark, pairs, fixed_iters=cc_fixed_iters)
    return _keep_ids(docs, comp)


def dedup_keep_list_delta(
    docs: DataFrame,
    new_ids: DataFrame,
    old_keeps: DataFrame,
    *,
    n: int = 1,
    threshold: float = 0.9,
    text_col: str = "text",
) -> DataFrame:
    """Incremental keep-list maintenance — the continuous-crawl shape:
    given the full corpus ``docs``, the newly ingested batch
    ``new_ids`` (a (doc_id) relation) and the maintained keep-list
    ``old_keeps`` (= :func:`dedup_keep_list` over docs minus the
    batch), produce the keep-list of the FULL corpus while restricting
    all quadratic pair work to pairs touching a new class.

    Exactness argument: union components are the transitive closure of
    (old qualifying pairs) ∪ (qualifying pairs touching a new doc).
    ``old_keeps`` star edges (keep_id -> doc_id) encode the first set's
    closure exactly; membership stars over the UNION classes cover
    same-token-set pairs (a new exact dup joins its class by hash
    equality, whatever batch it arrived in); delta class pairs
    (:func:`_class_pairs` with ``new_cls``) cover every cross-class
    pair with a new side — recall 1.0 in every regime (blocked: new x
    all blocks; prefix: symmetric prefix theorem).  keep_id =
    component min is unchanged, so the output is row-identical to a
    full recompute (the gate oracles it against the batch SQL twin).

    Linear passes (tokenize/class-collapse) are recomputed over the
    union here; a production deployment persists the class and gram
    tables between batches (the `_KEEP_LIST_CACHE`/GraphTables
    pattern) — the point of this operator is that the O(n^2) candidate
    work, the part that matters at 100 TB, is |new| x |all|.
    """
    spark = docs.sparkSession
    from graphjet_spark.plans.components import connected_components_star

    cs = _class_structures(docs, n=n, text_col=text_col)
    classes, reps = cs[:2]
    new_cls = (
        classes.join(new_ids.select("doc_id"), "doc_id")
        .select("cls")
        .distinct()
    )
    cls_pairs = _class_pairs(cs, _Measure("jaccard", threshold), new_cls=new_cls)
    old_edges = old_keeps.filter(F.col("doc_id") != F.col("keep_id")).select(
        F.col("keep_id").alias("src"), F.col("doc_id").alias("dst")
    )
    comp = connected_components_star(
        spark, _keep_graph(classes, reps, cls_pairs).unionByName(old_edges)
    )
    return _keep_ids(docs, comp)


# ------------------------------------------------------- embedding cosine


def embedding_near_dups(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """Exact cosine near-dup pairs (a < b, round(cos, 6) >= threshold).

    Two stages, never a row-level cartesian product:

    1. candidate generation by **block-GEMM join**: vectors are hashed
       into B = ceil(n / block_rows) blocks; each of the B*(B+1)/2 block
       pairs becomes one cogrouped-Arrow task that runs a float64 numpy
       matrix product over its two bounded blocks and emits only pairs
       with cosine >= threshold - 1e-6 (slack covers GEMM-vs-sequential
       summation and the final 6-decimal rounding).  Per-task memory is
       2 * block_rows * dim floats; each vector is shuffled B times —
       the standard blocked formulation of an all-pairs similarity join,
       with no n^2-row intermediate ever materialized.  (Low-threshold
       similarity on unstructured vectors is inherently quadratic in
       *compute*; for true near-dup thresholds the sublinear LSH path is
       :func:`embedding_near_dups_lsh`.)
    2. exact rescore: candidates are re-scored with the same sequential
       float64 JVM expressions (aggregate/zip_with) as before, so output
       values are byte-identical to a naive all-pairs evaluation and
       reproducible against any float64 oracle.
    """
    v = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    margin = 1e-6

    def _gemm(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        A = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        na[na == 0] = np.inf  # zero vectors can never clear the threshold
        nb[nb == 0] = np.inf
        S = (A / na[:, None]) @ (B / nb[:, None]).T
        ia, ib = np.nonzero(S >= threshold - margin)
        id_a = a_pdf["id"].to_numpy()[ia]
        id_b = b_pdf["id"].to_numpy()[ib]
        if key[0] == key[1]:
            # diagonal block: both sides are the same set, every pair
            # appears twice — keep one order
            keep = id_a < id_b
            id_a, id_b = id_a[keep], id_b[keep]
        # off-diagonal: each unordered pair appears exactly once; ids are
        # not block-ordered, so normalize to (lo, hi)
        return pd.DataFrame(
            {"id_a": np.minimum(id_a, id_b), "id_b": np.maximum(id_a, id_b)}
        )

    cand = _block_pair_cogroup(
        v, "id", block_rows, _gemm, "id_a bigint, id_b bigint"
    )

    # exact float64 rescore with sequential JVM summation
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), norm.alias("na"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), norm.alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    *,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sublinear near-dup pairs for *true* near-dup thresholds (>= ~0.8):
    random-hyperplane LSH bucket joins generate candidates, exact float64
    rescore keeps only round(cos, 6) >= threshold.

    Collision probability per table is (1 - theta/pi)^n_planes, so at
    cos 0.9 a pair survives >= 1 of 32 tables with prob ~1 - 2e-5 —
    recall is pinned by a planted-duplicate pytest
    (tests/test_training_data_ops.py).  At low thresholds this
    degenerates (most pairs collide); use :func:`embedding_near_dups`.
    """
    from graphjet_spark.operators.ann import lsh_candidate_pairs

    cand = lsh_candidate_pairs(
        embeddings,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        norm.alias("nrm"),
    )
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def decontamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shared_grams) — training documents sharing at least one
    token n-gram with the benchmark set (the standard eval-set
    decontamination sweep: flag, then drop or audit).

    ``benchmark`` is a (doc_id) DataFrame naming the held-out docs.
    Plan shape: distinct benchmark grams (small side, broadcastable at
    real benchmark sizes) equi-joined against training grams — never
    doc x doc, so it scales with corpus gram volume, not pairs."""
    grams = token_sets(docs, text_col, n)
    bgrams = (
        grams.join(benchmark.select("doc_id"), "doc_id", "left_semi")
        .select("tok")
        .distinct()
    )
    return (
        grams.join(benchmark.select("doc_id"), "doc_id", "left_anti")
        .join(bgrams, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    max_df_frac: float = 0.2,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_a, doc_b, cosine) — document pairs with TF-IDF cosine >=
    threshold over whitespace tokens, doc_a < doc_b.

    The weighted companion of ngram_jaccard_pairs: per-(doc, term)
    weights tf * ln(N/df), L2-normalized per document, paired through a
    term inverted index restricted to terms with df <= max_df_frac*N
    (a corpus FRACTION, so the semantics are scale-invariant — a fixed
    absolute cap would silently stop-list the whole vocabulary as the
    corpus grows).
    The df-cap IS the operator's semantics (cosine over non-ubiquitous
    terms), not an approximation bolted on: ubiquitous terms carry
    ln(N/df) ~ 0 weight anyway, and capping them bounds the inverted
    index fan-out at max_df² per term — the same principle as the
    Adamic-Adar center cap and the AllPairs prefix filter."""
    words = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    tok = docs.select("doc_id", F.explode(words).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    max_df = int(max_df_frac * n_docs)
    wts = (
        tf.join(df_tbl.where(F.col("df") <= max_df), "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
            ).alias("w"),
        )
    )
    norms = wts.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    unit = wts.join(norms, "doc_id").select(
        "term", "doc_id", (F.col("w") / F.col("nrm")).alias("u")
    )
    a = unit.select("term", F.col("doc_id").alias("doc_a"), F.col("u").alias("ua"))
    b = unit.select(
        F.col("term").alias("term2"),
        F.col("doc_id").alias("doc_b"),
        F.col("u").alias("ub"),
    )
    return (
        a.join(
            b,
            (F.col("term") == F.col("term2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.sum(F.col("ua") * F.col("ub")), round_to).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def exact_substring_pairs(
    docs: DataFrame,
    *,
    window: int = 8,
    df_cap: int = 50,
    min_shared: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate pairs (Lee et al. ACL'22,
    "Deduplicating Training Data Makes Language Models Better"): two
    documents are flagged when they share at least ``min_shared``
    verbatim runs of ``window`` whitespace tokens.  The suffix-array of
    the paper is replaced by its distributed equivalent — every
    length-``window`` token window is hashed (cross-engine md5-prefix,
    see ``_hash60``) and duplicate spans fall out of an equi-join on
    the window hash; a window appearing in more than ``df_cap``
    documents is dropped as boilerplate (same df-capping rationale as
    ``ngram_jaccard_pairs``: hot spans are the quadratic fan-out at
    web scale, and mass-repeated boilerplate is exactly what the
    training-data curator wants excluded from the pair evidence).

    Output ``(doc_a, doc_b, shared_windows)`` with doc_a < doc_b —
    pure integers, fully cross-engine oracle-able.
    """
    # bind filter(split(...)) ONCE per row (see gram_expr): the inlined
    # form re-tokenized the doc per window index — O(len^2) per doc, the
    # reason this query ran 12.5x on 10x data in the sf1 soak.
    toks = f"filter(split({text_col}, '\\\\s+'), t -> t != '')"
    wins_arr = F.expr(
        f"element_at(transform(array({toks}), a -> "
        f"CASE WHEN size(a) >= {window} THEN "
        f"transform(sequence(0, size(a) - {window}), "
        f"i -> concat_ws(' ', slice(a, i + 1, {window}))) "
        f"ELSE array() END), 1)"
    )
    wins = (
        _spread(docs).select("doc_id", F.explode(wins_arr).alias("s"))
        .select("doc_id", _hash60(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # keep only windows seen in >= 2 docs (pair evidence) and <= df_cap
    # docs (boilerplate guard) — the join fan-out is bounded by df_cap.
    keep = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("h")
    )
    fw = wins.join(keep, "h")
    a = fw.select("h", F.col("doc_id").alias("doc_a"))
    b = fw.select(F.col("h").alias("h2"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, (F.col("h") == F.col("h2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .where(F.col("shared_windows") >= min_shared)
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    *,
    window: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring corpus REWRITE (Lee et al. ACL'22 §4 — the
    deliverable their suffix-array tool actually emits, not just the
    pair evidence of :func:`exact_substring_pairs`): every verbatim run
    of ``window`` whitespace tokens keeps exactly its globally-first
    occurrence (lexicographic min over (doc_id, start position), so the
    rule is a total order and the output is ingest-order deterministic);
    every later occurrence — in another document OR later in the same
    document — has all of its covered token positions dropped, and each
    document is re-assembled from its surviving tokens.

    A fully-duplicated document therefore rewrites to the empty string
    (its every window is a later occurrence), the first copy survives
    verbatim, and in-document repetition collapses to its first span —
    the MassiveText in-doc dedupe for free.

    Output ``(doc_id, kept_text, n_tokens, n_dropped)``, one row per
    input document (short docs with < ``window`` tokens pass through
    unchanged).

    Scale shape (100-TB audit): windows are one posexplode (linear in
    token volume); the first-occurrence table is one map-side-combined
    ``min`` groupBy on the 60-bit window hash; later-occurrence
    detection is a linear equi-join back on the hash (each window row
    meets exactly one ``firsts`` row — NO pair fan-out, so unlike the
    pair query there is no df-cap and boilerplate spans are handled at
    full df); coverage expansion is a bounded ``sequence`` explode
    (``window`` rows per dup instance); the rewrite joins one
    doc-id-keyed dropped-positions array per document and filters
    row-locally (shuffle volume is document-count-, not token-, sized).
    First-occurrence keys pack as ``doc_id * 2^20 + pos`` (documents up
    to 1M tokens; a corpus with longer docs or >2^43 doc ids would
    switch the min to a struct ordering).
    """
    w = int(window)
    pos_pack = 1 << 20
    toks = f"filter(split({text_col}, '\\\\s+'), t -> t != '')"
    base = (
        _spread(docs)
        .select("doc_id", F.expr(toks).alias("toks"))
        # consumed twice (window scan + final rewrite join): checkpoint
        # so the tokenizing scan runs once
        .localCheckpoint(eager=True)
    )
    wins = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {w} THEN "
                f"transform(sequence(1, size(toks) - {w} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {w}))) "
                f"ELSE array() END"
            )
        ).alias("i0", "s"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).cast("bigint").alias("pos"),
        _hash60(F.col("s")).alias("h"),
    )
    firsts = wins.groupBy("h").agg(
        F.min(F.col("doc_id") * pos_pack + F.col("pos")).alias("first_key")
    )
    dup_instances = (
        wins.join(firsts, "h")
        .where(F.col("doc_id") * pos_pack + F.col("pos") > F.col("first_key"))
        .select("doc_id", "pos")
    )
    dropped = (
        dup_instances.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("dropped"))
    )
    return base.join(dropped, "doc_id", "left").select(
        "doc_id",
        F.expr(
            "array_join(filter(transform(toks, (t, i) -> "
            "IF(array_contains(coalesce(dropped, array()), "
            "CAST(i + 1 AS BIGINT)), NULL, t)), t -> t IS NOT NULL), ' ')"
        ).alias("kept_text"),
        F.expr("size(toks)").cast("bigint").alias("n_tokens"),
        F.coalesce(F.expr("size(dropped)"), F.lit(0))
        .cast("bigint")
        .alias("n_dropped"),
    )


def crossdoc_dup_fraction(
    docs: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, n_grams, dup_grams, dup_fraction) — for each document,
    the fraction of its DISTINCT token n-grams that also occur in at
    least one other document (the inter-document duplication profile
    behind Gopher/RefinedWeb-style corpus audits: a high fraction marks
    boilerplate or templated scrapes that exact/near dedup missed at
    the whole-document grain).

    Plan shape is linear in gram volume at any corpus size: one
    distinct over (doc_id, gram), one groupBy gram for document
    frequency, one equi-join back, one groupBy doc_id — no doc x doc
    pairing anywhere.  Docs with fewer than ``n`` tokens report zero
    grams and 0.0 fraction (kept: absence of evidence is a value)."""
    grams = token_sets(docs, text_col, n)
    df = grams.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        grams.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("dup_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("bigint").alias("dup_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("dup_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    round_to,
                )
            )
            .alias("dup_fraction"),
        )
    )


def gram_novelty(
    docs: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, n_grams, novel_grams, novelty) — for each document, the
    fraction of its DISTINCT token n-grams whose FIRST corpus occurrence
    (minimum doc_id over the ingest order) is this document.  The
    arrival-order twin of :func:`crossdoc_dup_fraction`: where that op
    asks "how much of this doc exists elsewhere", novelty asks "how much
    did this doc add when it arrived" — the per-document marginal-
    contribution signal behind dedup-aware crawl scheduling and the
    memorization audits of Lee et al. ACL'22 §5 (later copies of a
    duplicated span contribute ~0 novel grams).

    Plan shape is linear in gram volume at any corpus size: one distinct
    over (doc_id, gram), one map-side-combined min(doc_id) per gram, one
    equi-join back, one per-doc fold — no doc x doc pairing and no
    global ordering (min over a BIGINT id is order-free).  Docs with
    fewer than ``n`` tokens report zero grams and 0.0 novelty (kept:
    absence of evidence is a value)."""
    grams = token_sets(docs, text_col, n)
    first = grams.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("novel_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("novel_grams", F.lit(0))
            .cast("bigint")
            .alias("novel_grams"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("novel_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    round_to,
                )
            )
            .alias("novelty"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_a, doc_b, containment) — asymmetric near-dup pairs by
    n-gram set containment C(a in b) = |A n B| / |A| >= threshold, the
    quote/subset detector Jaccard structurally misses: a short doc
    fully embedded in a long one has tiny Jaccard (union is the long
    doc) but containment 1.0.  Standard corpus-dedup companion to the
    symmetric ngram_jaccard_pairs (RefinedWeb/Dolma-style sub-document
    leak audits).  Values are rounded to ``round_to`` decimals before
    the threshold applies.

    Runs on the same set-similarity join core as
    :func:`ngram_jaccard_pairs`: exact-duplicate token SETS collapse
    into classes (:func:`_class_structures`), so the intersection work
    runs once per (contained-class, container-class) ordered pair;
    :func:`_class_pairs` picks the regime from the vocabulary size —
    blocked bitset popcount (V <= 256), blocked posting-run
    intersection (V <= 2^17: dense vocabularies where prefix filtering
    can't prune, with NO candidate relation materialized), else
    prefix-filtered candidates on the contained side (recall exactly
    1.0 by the SSJoin prefix theorem) with size and PPJoin positional
    filters, verified by row-local ``array_intersect``.  Class pairs
    expand back to ordered member doc pairs; intra-class ordered pairs
    score exactly 1.0.
    """
    m = _Measure("containment", threshold, round_to)
    cs = _class_structures(docs, n=n, text_col=text_col)
    return _expand(_class_pairs(cs, m), cs[0], m)


def containment_topk(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.6,
    k: int = 10,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """``(doc_a, doc_b, containment, rank)`` — for each document, its
    top-``k`` containers among the qualifying census pairs of
    :func:`containment_pairs`, ranked by (rounded containment DESC,
    doc_b ASC); ``rank`` is 1-based.  EXACTLY equal to the full census
    ranked and sliced per doc — but with a bounded execution footprint,
    so it completes on dense-vocabulary corpora where the census output
    itself is quadratic by construction (the r3 sf10 casualty: the
    census spilled its candidate relation past the 78 GB disk).

    Boundedness, stage by stage:

    1. Class pairs come from :func:`_class_pairs` with in-task
       per-contained top-k retention in the blocked regimes — the
       emitted stream is ~n_cls * n_blocks * k rows, never the
       quadratic census.  (Sparse-vocab corpora take the
       prefix-filtered census, which prunes by assumption there.)
    2. Per contained class, the top-k container CLASSES by (containment
       DESC, rep ASC) — rep = the class's minimum member doc_id.
    3. Expansion (:func:`_expand` with ``k``) emits only each selected
       class's k smallest members (cross) and each doc's k+1 smallest
       class-mates (intra, all at containment exactly 1.0), then one
       final per-doc window takes k.

    Exactness of the class-level cut (stage 2+3 vs the doc-level
    definition): docs of one class share one containment value, and a
    class's members are all >= its rep.  For any tie group of classes
    at containment c, keeping the k classes with smallest reps keeps k
    member docs smaller than every member of any dropped class, so no
    dropped class can reach the per-doc top-k under (containment DESC,
    doc_b ASC); classes with strictly smaller containment than k kept
    classes are likewise unreachable.  Within a kept class only the k
    smallest members can place.  The in-task retention of stage 1
    carries a 10^-round_to slack past the k-th unrounded value,
    covering every candidate that could tie after the final
    round_to-decimal ROUND.
    The oracle twin is therefore just the census SQL + one QUALIFY
    row_number() — no engine trick leaks into the semantics."""
    from pyspark.sql import Window

    m = _Measure("containment", threshold, round_to)
    cs = _class_structures(docs, n=n, text_col=text_col)
    classes, reps = cs[:2]
    cls_pairs = _class_pairs(cs, m, k=k)
    # stage 2: top-k container classes per contained class
    repb = reps.select(F.col("cls").alias("cb"), F.col("rep").alias("rep_b"))
    w1 = Window.partitionBy("ca").orderBy(
        F.desc("containment"), F.asc("rep_b")
    )
    top_cls = (
        cls_pairs.join(repb, "cb")
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .select("ca", "cb", "containment")
    )
    # stage 3: k-sliced member expansion + final per-doc window
    w2 = Window.partitionBy("doc_a").orderBy(
        F.desc("containment"), F.asc("doc_b")
    )
    return (
        _expand(top_cls, classes, m, k=k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("doc_a", "doc_b", "containment", "rank")
    )


# ------------------------------------------------------- semantic dedup


def semdedup_keep_list(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup of an
    embedding corpus — k-means clusters, then within-cluster cosine
    pruning.  The public reference implementation drops a point when its
    cosine to any LOWER-INDEX member of the same cluster exceeds the
    threshold (facebookresearch/SemDeDup keeps the first-seen
    representative of each semantic-duplicate neighborhood); with the
    repo's deterministic hash-init k-means (:func:`~graphjet_spark.
    operators.ann.kmeans_assign`) the whole pass is a pure function of
    the table and value-oracles against DuckDB.

    Output, one row per vector: ``(vec_id, cluster, max_cos_smaller,
    keep)`` where ``max_cos_smaller`` is the max round-6 cosine to any
    smaller-id cluster-mate (sentinel ``-2.0`` when none — cluster
    minimum or singleton) and ``keep = max_cos_smaller < threshold``.

    Scale shape (the SemDeDup premise is k grows with the corpus so
    cluster sizes stay bounded):

    - per-cluster **blocked GEMM** candidate generation, sized by a
      k-row cluster-size map (k rows to the driver, never data rows):
      cluster c with n_c members gets ceil(n_c / block_rows) blocks, so
      a skewed mega-cluster fans out into more block-pair tasks instead
      of one oversized task; per-task memory is 2 * block_rows * dim
      floats and no quadratic row intermediate is materialized — each
      task emits only the block-local near-max (within 1e-5) smaller-id
      candidates per row;
    - exact float64 rescore of candidates with sequential JVM
      aggregate/zip_with folds (byte-identical to a naive evaluation,
      reproducible against the DuckDB twin), round-6, then a map-side-
      combined max per vector;
    - the keep flag is a row-local comparison; the final left join is
      hash-partitioned on vec_id.
    """
    from graphjet_spark.operators.ann import kmeans_assign

    clusters = kmeans_assign(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)

    nb_rows = [
        (int(r["cluster"]), max(1, -(-int(r["n"]) // block_rows)))
        for r in clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    nb_map = embeddings.sparkSession.createDataFrame(
        nb_rows, "cluster int, nb int"
    )

    v = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        )
        .join(clusters.withColumnRenamed("vec_id", "id"), "id")
        .join(F.broadcast(nb_map), "cluster")
        # materialized once: three consumers (both cogroup sides + the
        # rescore), and the join-bearing lineage would otherwise trip
        # Spark's ambiguous-self-join detection at the cogroup
        .localCheckpoint(eager=True)
    )
    a_rep = v.select(
        "id",
        "v",
        "cluster",
        F.pmod(F.xxhash64("id"), F.col("nb")).cast("int").alias("bi"),
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("bj"),
    )
    b_rep = v.select(
        "id",
        "v",
        "cluster",
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("bi"),
        F.pmod(F.xxhash64("id"), F.col("nb")).cast("int").alias("bj"),
    )
    eps = 1e-5

    def _block_smax(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id": [], "id_s": []})
        A = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        na[na == 0] = np.inf  # zero vectors never produce a candidate
        nb[nb == 0] = np.inf
        S = (A / na[:, None]) @ (B / nb[:, None]).T
        ida = a_pdf["id"].to_numpy()
        idb = b_pdf["id"].to_numpy()
        # only smaller-id cluster-mates count (the SemDeDup keep rule)
        S = np.where(idb[None, :] < ida[:, None], S, -np.inf)
        rowmax = S.max(axis=1, keepdims=True)
        # near-max per row; isfinite() drops the masked -inf cells of
        # rows whose every candidate is masked (rowmax = -inf)
        ia, ib = np.nonzero((S >= rowmax - eps) & np.isfinite(S))
        return pd.DataFrame({"id": ida[ia], "id_s": idb[ib]})

    cand = (
        a_rep.groupby("cluster", "bi", "bj")
        .cogroup(b_rep.groupby("cluster", "bi", "bj"))
        .applyInPandas(_block_smax, schema="id bigint, id_s bigint")
    )

    # exact float64 rescore: sequential JVM folds, byte-identical to a
    # naive all-pairs evaluation (same discipline as embedding_near_dups)
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    va = v.select(F.col("id"), F.col("v").alias("va"), norm.alias("na"))
    vb = v.select(
        F.col("id").alias("id_s"), F.col("v").alias("vb"), norm.alias("nb2")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mx = (
        cand.join(va, "id")
        .join(vb, "id_s")
        .select(
            "id",
            F.round(dot / (F.col("na") * F.col("nb2")), round_to).alias("cos"),
        )
        .groupBy("id")
        .agg(F.max("cos").alias("mcs"))
    )
    out = clusters.join(
        mx.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    )
    mcs = F.coalesce(F.col("mcs"), F.lit(-2.0))
    return out.select(
        "vec_id",
        "cluster",
        mcs.alias("max_cos_smaller"),
        (mcs < F.lit(threshold)).alias("keep"),
    )


def bloom_decontamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, bloom_grams)`` — the Bloom-filter form of
    :func:`decontamination_flags`: training documents whose token
    n-grams test positive against a Bloom filter built from the
    benchmark set's grams.  ``bloom_grams`` counts the doc's distinct
    grams passing the filter — a SUPERSET of the exact ``shared_grams``
    (no false negatives; overcount ~ fill_ratio**k per clean gram,
    property-tested against the exact join).

    This is the decontamination shape that survives 100 TB: the exact
    version ships every distinct benchmark gram into an equi-join
    against the full training gram volume; here the benchmark collapses
    to a <= m_bits-row bit set (``sketches.bloom_bits``) that BROADCASTS,
    so the training side streams at scan rate with no gram-key shuffle
    at all — the standard first-pass filter before an exact confirm on
    the (tiny) flagged remainder.  Deterministic md5-prefix probes keep
    it value-oracle-able against a DuckDB twin computing the identical
    bit set."""
    from graphjet_spark.operators.sketches import bloom_bits, bloom_member_flags

    grams = token_sets(docs, text_col, n)
    bench_ids = benchmark.select("doc_id")
    bits = bloom_bits(
        grams.join(bench_ids, "doc_id", "left_semi").select("tok").distinct(),
        "tok",
        m_bits=m_bits,
        k=k,
    )
    train = grams.join(bench_ids, "doc_id", "left_anti")
    passing = bloom_member_flags(train, bits, "tok", m_bits=m_bits, k=k)
    return passing.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("bloom_grams")
    )


def paragraph_dedup_rewrite(
    docs: DataFrame,
    *,
    para_tokens: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, n_paras, kept_paras, text)`` — paragraph-level exact
    dedup with corpus rewrite (the Dolma / RefinedWeb paragraph pass):
    each document splits into fixed-``para_tokens`` non-overlapping
    token windows ("paragraphs" — the synthetic corpus carries no
    newline structure, so the window IS the paragraph unit), every
    paragraph whose content already appeared at a smaller
    (doc_id, para_idx) is DROPPED, and the survivors reassemble in
    order into the rewritten text.  First occurrence wins globally —
    an order-free min, no window function.

    Scale shape: paragraphs are a narrow JVM projection (split +
    sequence + slice, scan rate); ownership is ONE map-side-combined
    min-groupBy on the 60-bit paragraph hash plus one equi-join back —
    linear in paragraph volume, never doc x doc.  Reassembly groups by
    doc_id with a sort_array over (para_idx, text) structs, the same
    bounded-state shape as chunk/pack.  All doc_ids survive (empty or
    fully-dropped docs emit text '')."""
    docs = _spread(docs)
    toks = (
        f"CASE WHEN trim({text_col}) = '' THEN array() "
        f"ELSE split(trim({text_col}), '\\\\s+') END"
    )
    starts = (
        f"CASE WHEN size({toks}) = 0 THEN array() "
        f"ELSE sequence(0, size({toks}) - 1, {para_tokens}) END"
    )
    paras = (
        docs.select(
            "doc_id",
            F.expr(toks).alias("_w"),
            F.posexplode_outer(F.expr(starts)).alias("para_idx", "_s"),
        )
        .where(F.col("_s").isNotNull())
        .select(
            "doc_id",
            F.col("para_idx").cast("bigint").alias("para_idx"),
            F.concat_ws(
                " ", F.expr(f"slice(_w, _s + 1, {para_tokens})")
            ).alias("ptext"),
        )
    )
    # first occurrence = lexicographic min over (doc_id, para_idx) as a
    # struct — overflow-free at any doc_id/para_idx (no packed-key
    # arithmetic).  Ownership groups on (h, ptext), not the hash alone,
    # so a 60-bit birthday collision between DISTINCT paragraph texts
    # can never drop a paragraph — h only narrows the shuffle key.
    hashed = paras.select(
        "doc_id", "para_idx", "ptext", _hash60(F.col("ptext")).alias("h")
    )
    owner = hashed.groupBy("h", "ptext").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("_first")
    )
    kept = hashed.join(owner, ["h", "ptext"]).where(
        (F.col("doc_id") == F.col("_first.doc_id"))
        & (F.col("para_idx") == F.col("_first.para_idx"))
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_paras"),
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(para_idx, ptext))), x -> x.ptext)"),
        ).alias("new_text"),
    )
    n_paras = F.expr(
        f"CAST(CEIL(size({toks}) / CAST({para_tokens} AS DOUBLE)) AS BIGINT)"
    )
    return (
        docs.select("doc_id", n_paras.alias("n_paras"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_paras",
            F.coalesce("kept_paras", F.lit(0)).cast("bigint").alias(
                "kept_paras"
            ),
            F.coalesce("new_text", F.lit("")).alias("text"),
        )
    )
