"""Similarity search over embedding columns (SURVEY.md §2.7).

- brute_force_topk : exact cosine top-k with TWO-PHASE top-k
  aggregation keyed on (query, partition).  What this removes is the
  per-QUERY hotspot: a window row_number() funnels the whole scored
  corpus into #query sorted partitions, while here every (query,
  partition) group reduces independently and the final merge handles
  only k-length lists.  Honest cost note: the slice is
  a post-aggregation expression, so the exchange between the phases
  still carries the grouped entries — O(scored rows), not O(q x k x
  partitions).  That is acceptable by design: brute force is the
  BASELINE; the scale paths (rp_lsh_ann_topk, ivf_topk) bucket-prune
  BEFORE scoring, so their scored sets — and this exchange — are small.
- rp_lsh_ann_topk  : approximate variant — random-hyperplane LSH buckets
  (sign bits of dot(v, r_j) for fixed pseudo-random hyperplanes), exact
  rerank within the query's bucket.  Hyperplanes come from the same
  deterministic LCG as the MinHash permutations, so the DuckDB oracle can
  reproduce the bucketing bit-for-bit.

cf. PAPERS.md: EDBT'19 streaming similarity search; ICDE'21 REPOSE
distributed top-k (partition-local pruning before global merge — the same
two-phase idea).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.functions import hashing as H
from apache_kafka_clickhouse_demo_spark.functions.hashing import _lcg
from apache_kafka_clickhouse_demo_spark.functions import vectors as V
from apache_kafka_clickhouse_demo_spark.sources.tables import spread_small


#: (app id, plan semantic hash, input-file fingerprint) -> row count.
#: Bounded: cleared when it grows past a handful of distinct corpora (a
#: session queries few tables).
_COUNT_CACHE: dict[tuple[str, int, int], int] = {}


def _memoized_count(df: DataFrame) -> int:
    """Scalar count memoized per (session, semantic plan, data version):
    repeated builds of the same query don't re-scan the corpus just to
    re-derive the IVF sampling modulus.  Falls back to a plain count
    when the plan has no stable semantic hash.

    Key design: `spark.app.id` — unique per SparkSession lifetime —
    instead of `id(session)`, whose address a new
    session can reuse after GC; plus the sorted `inputFiles()` list as a
    data-version fingerprint, so appending files to a table (same semantic
    plan, new data) invalidates the cached count instead of silently fixing
    a stale IVF modulus.  Both are logical-plan/conf lookups — no job."""
    try:
        app_id = df.sparkSession.conf.get("spark.app.id")
        data_version = hash(tuple(sorted(df.inputFiles())))
        key = (app_id, df.semanticHash(), data_version)
    except Exception:
        return df.count()
    if key not in _COUNT_CACHE:
        if len(_COUNT_CACHE) > 64:
            _COUNT_CACHE.clear()
        _COUNT_CACHE[key] = df.count()
    return _COUNT_CACHE[key]


def _topk_sorted_slice(pairs_col: Column | str, k: int) -> Column:
    """Keep the k best (cos desc, id asc) entries of an array of
    struct(neg_cos, neighbor_id, cos_sim) — array_sort orders by fields."""
    return F.slice(F.array_sort(pairs_col), 1, k)


def _score_entry(cos: Column) -> Column:
    """struct(neg_cos, neighbor_id, cos_sim) with the score lambda-bound so
    the dot product is evaluated ONCE (two plain references to the same
    HOF expression would each re-walk the arrays)."""
    return F.element_at(
        F.transform(
            F.array(cos),
            lambda cs: F.struct(
                (-cs).alias("neg_cos"),
                F.col("neighbor_id").alias("neighbor_id"),
                cs.alias("cos_sim"),
            ),
        ),
        1,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    queries is expected small (broadcast); corpus is the 100 TB side.
    Output: (query_id, neighbor_id, rank, cos_sim), rank 1..k by
    (cos desc, neighbor_id asc); self-matches excluded.
    """
    # normalize ONCE per vector: the hot scoring loop is then a single dot
    # product (1 array pass) instead of dot + two norms (3 passes)
    q = queries.select(F.col(id_col).alias("query_id"), V.normalize(vec_col).alias("qn"))
    c = spread_small(corpus).select(F.col(id_col).alias("neighbor_id"), V.normalize(vec_col).alias("cn"))

    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", _score_entry(V.dot("qn", "cn")).alias("entry")
    )

    return _two_phase_topk(scored, k)


# ---------------------------------------------------------------------------
# Scalar int8 quantization (memory/shuffle scale path)
# ---------------------------------------------------------------------------


def sq8_quantize(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 127,
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization (the FAISS SQ8 idea):
    normalize, then q_i = round(x_i / scale) with scale = max|x_i| / 127 —
    components land in [-127, 127] and dequantize as q_i * scale.

    Why at 100 TB: a float64-array embedding column is 8 bytes/dim through
    every shuffle and cache; the int8 form is ~1 byte/dim + one double —
    a ~4-8x cut in the bytes ANN verify/rerank stages move, at a recall
    cost the contract test bounds (tests/test_ann_recall.py).

    Determinism: both engines compute the SAME normalized doubles (shared
    `V.normalize` / `V.sql_normalize` mirrors), the same order-independent
    max-abs, the same division — so `round` sees bit-identical doubles and
    the quantized vectors match exactly (both engines round halves away
    from zero).  Zero vectors quantize to all-zero (scale row NULL-guarded).

    Output: (vec_id, qv array<int>, scale double).
    """
    base = spread_small(corpus).select(
        F.col(id_col).alias("vid"), V.normalize(vec_col).alias("nv")
    )
    max_abs = F.array_max(F.transform("nv", lambda x: F.abs(x)))
    entry = F.element_at(
        F.transform(
            F.array(max_abs / F.lit(float(levels))),  # scale, computed once/row
            lambda s: F.struct(
                F.when(
                    s > 0,
                    F.transform(
                        F.col("nv"), lambda x: F.round(x / s).cast("int")
                    ),
                )
                .otherwise(
                    F.transform(F.col("nv"), lambda x: F.lit(0).cast("int"))
                )
                .alias("qv"),
                s.alias("scale"),
            ),
        ),
        1,
    )
    # project through one aliased struct so the transform evaluates once
    return base.select(F.col("vid").alias(id_col), entry.alias("e")).select(
        id_col, F.col("e.qv").alias("qv"), F.col("e.scale").alias("scale")
    )


def _int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact integer dot product of two int arrays (long accumulate)."""
    prods = F.zip_with(
        F.col(a) if isinstance(a, str) else a,
        F.col(b) if isinstance(b, str) else b,
        lambda x, y: x.cast("long") * y.cast("long"),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, p: acc + p)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors: the scoring
    loop moves ~1 byte/dim instead of 8 and the hot product is an integer
    dot (approx cosine = int_dot * scale_a * scale_b, since inputs were
    unit-normalized before quantization).  Same two-phase partition-local
    top-k as `brute_force_topk`; ranks tie-break on neighbor_id, which the
    discrete quantized scores make load-bearing.  Output columns match the
    other ANN operators: (query_id, neighbor_id, rank, cos_sim) with
    cos_sim the QUANTIZED approximation (the operator's honest output —
    a float rerank is the caller's composition)."""
    qz = sq8_quantize(corpus, vec_col, id_col).persist()
    # quantize the QUERIES' own vectors — the input contract
    # every sibling ANN operator has: a query id absent from the corpus
    # still scores, and a query row's embedding is what gets scored even
    # if the corpus carries a different vector under the same id.  For
    # queries drawn from the corpus the quantization is bit-identical, so
    # the oracle's corpus-side formulation is unchanged.
    qs = sq8_quantize(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("scale").alias("q_scale"),
    )
    scored = (
        qz.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("qv").alias("n_qv"),
            F.col("scale").alias("n_scale"),
        )
        .join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            _score_entry(
                _int_dot("q_qv", "n_qv").cast("double")
                * F.col("q_scale")
                * F.col("n_scale")
            ).alias("entry"),
        )
    )
    return _two_phase_topk(scored, k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------


def rp_hyperplanes(num_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim
    (both endpoints reachable: the LCG draws 2_000_001 grid values).

    Components are exact 6-decimal values from the shared LCG so both Spark
    literals and DuckDB SQL literals parse to identical doubles.
    """
    gen = _lcg(seed)
    return [
        [((next(gen) % 2_000_001) - 1_000_000) / 1e6 for _ in range(dim)]
        for _ in range(num_planes)
    ]


def rp_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """LSH bucket id = integer of sign bits of dot(v, r_j), j ascending."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        prods = F.zip_with(
            v,
            F.array(*[F.lit(x) for x in plane]),
            lambda x, y: x.cast("double") * y,
        )
        d = F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)
        bucket = bucket + F.when(d >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def rp_lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine rerank restricted to the query's LSH
    bucket.  Join key is the bucket id, so the shuffle partitions the corpus
    once by bucket instead of replicating it per query.

    `dim` is the embedding dimensionality and must be passed explicitly
    (no driver-side inference — the hyperplane literals are built at plan
    time)."""
    if dim is None:
        raise ValueError("pass dim explicitly (no driver-side inference)")
    planes = rp_hyperplanes(num_planes, dim, seed)

    # buckets hash the RAW vectors (oracle mirrors this); scoring uses
    # prenormalized copies so the rerank is one dot product per pair.
    # num_planes sets the bucket count (2^planes): size it as
    # ~log2(corpus_size / target_bucket_rows) — at 100 TB that's 20+ planes
    # (or several smaller tables, cf. dedup.embedding_near_dup_pairs),
    # never a fixed small constant.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        V.normalize(vec_col).alias("qn"),
        rp_bucket(vec_col, planes).alias("bucket"),
    )
    c = spread_small(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        V.normalize(vec_col).alias("cn"),
        rp_bucket(vec_col, planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", _score_entry(V.dot("qn", "cn")).alias("entry"))
    )
    return _two_phase_topk(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other classic scale path
# ---------------------------------------------------------------------------


def _two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, entry) -> ranked top-k rows without windowing the scored
    set: per-(query, partition) top-k groups, then a merge of k-length
    lists — removes the per-query window funnel.  The inter-phase
    exchange still carries the grouped entries (O(scored rows)); see the
    module docstring's honest cost note — the bucketed scale paths feed
    this helper small pre-pruned scored sets."""
    partial = scored.groupBy("query_id", F.spark_partition_id().alias("_pid")).agg(
        _topk_sorted_slice(F.collect_list("entry"), k).alias("topk")
    )
    merged = partial.groupBy("query_id").agg(
        _topk_sorted_slice(F.flatten(F.collect_list("topk")), k).alias("topk")
    )
    return (
        merged.select("query_id", F.posexplode("topk").alias("_pos", "e"))
        .select(
            "query_id",
            F.col("e.neighbor_id").alias("neighbor_id"),
            (F.col("_pos") + 1).alias("rank"),
            F.col("e.cos_sim").alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


#: Reciprocal-rank-fusion smoothing constant (Cormack/Clarke/Buettcher,
#: SIGIR'09 — k = 60 is the paper's value, used unchanged everywhere).
RRF_K = 60
#: Contributions are floor(RRF_SCALE / (k + rank)) — integers, so the
#: fused score is exact in both engines (no float reciprocal sums).
RRF_SCALE = 1_000_000_000


def rrf_fuse(arms: list[DataFrame], k: int = 10, rrf_k: int = RRF_K) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists — the standard
    way to combine a keyword arm (BM25) with a vector arm (ANN cosine)
    into one hybrid ranking without comparing their incomparable scores.

    Each arm is a DataFrame (query_id, doc_id, rank) — the shape
    `bm25_topk` / `bm25_lookup` and the ANN top-k family emit (rename
    neighbor_id -> doc_id).  A document's fused score is the sum over
    arms of floor(RRF_SCALE / (rrf_k + rank)); documents missing from an
    arm's top-k contribute nothing for that arm (truncated-list RRF, the
    standard practice).  Integer arithmetic end to end: rank is an int,
    the floor-division is Spark `div` / DuckDB `//` on positive operands,
    and the sum is order-independent — hash-exact cross-engine.

    Output: (query_id, rank, doc_id, rrf_score_nano, n_arms), rank 1..k
    by (fused score desc, doc_id asc); n_arms counts how many arms
    surfaced the document (1 = single-arm hit, len(arms) = consensus).

    Plan shape at 100 TB: the arms are already top-k lists, so this
    operator's whole input is <= |queries| * k * len(arms) rows — one
    bounded union + one aggregate + the two-phase top-k merge.  The
    expensive work (corpus-scale scoring) stays inside the arms, which
    prune with their own indexes/banding.
    """
    if not arms:
        raise ValueError("rrf_fuse: need at least one arm")
    contribs = [
        a.select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.expr(f"{RRF_SCALE} div ({rrf_k} + rank)").cast("long").alias("_c"),
        )
        for a in arms
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("_c").alias("rrf_score_nano"),
        F.count(F.lit(1)).cast("int").alias("n_arms"),
    )
    # same two-phase partial/merge top-k as _two_phase_topk, with the
    # fused-score entry struct: array_sort orders by (neg_score asc =
    # score desc, doc_id asc); doc_id is unique per query post-aggregate
    entry = F.struct(
        (-F.col("rrf_score_nano")).alias("neg_score"),
        F.col("doc_id").alias("doc_id"),
        F.col("rrf_score_nano").alias("rrf_score_nano"),
        F.col("n_arms").alias("n_arms"),
    )
    scored = fused.select("query_id", entry.alias("entry"))
    partial = scored.groupBy("query_id", F.spark_partition_id().alias("_pid")).agg(
        _topk_sorted_slice(F.collect_list("entry"), k).alias("topk")
    )
    merged = partial.groupBy("query_id").agg(
        _topk_sorted_slice(F.flatten(F.collect_list("topk")), k).alias("topk")
    )
    return (
        merged.select("query_id", F.posexplode("topk").alias("_pos", "e"))
        .select(
            "query_id",
            (F.col("_pos") + 1).alias("rank"),
            F.col("e.doc_id").alias("doc_id"),
            F.col("e.rrf_score_nano").alias("rrf_score_nano"),
            F.col("e.n_arms").alias("n_arms"),
        )
        .orderBy("query_id", "rank")
    )


def hard_negatives(
    candidates: DataFrame, positives: DataFrame, k: int = 10
) -> DataFrame:
    """DPR-style hard-negative mining (Karpukhin et al., EMNLP 2020):
    lexically-relevant candidates (a BM25 top-k arm) that the trusted
    relevance arm (the vector top-k, or gold labels) does NOT contain —
    the negatives that teach a dense retriever the most, because a
    random negative is trivially far while these are near-misses.

    Both inputs are (query_id, doc_id, rank) rank frames — the same
    shape `rrf_fuse` consumes.  Output: (query_id, rank, doc_id,
    cand_rank) with rank 1..<=k re-numbered in candidate-rank order;
    `cand_rank` preserves the original lexical rank for weighting.

    Scale: both inputs are top-k lists — bounded at |queries| * k rows
    by construction — so the anti-join and the per-query window run
    over bounded frames (the per-query window funnel the corpus-scale
    operators avoid is not a hazard here; nothing corpus-sized ever
    reaches this operator).
    """
    cand = candidates.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("int").alias("cand_rank"),
    )
    pos = positives.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    neg = cand.join(pos, ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy("cand_rank")
    return (
        neg.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "cand_rank")
        .orderBy("query_id", "rank")
    )


def ivf_quantize(
    corpus,
    target_centroids: int | None,
    vec_col: str,
    id_col: str,
    salt: str,
    corpus_count: int | None = None,
):
    """Shared IVF coarse quantizer: (cents, assign).

    cents  = deterministic hash-sample of the corpus (expected
             ~target_centroids rows at ANY corpus size; columns cent_id, cv)
    assign = argmax-cosine assignment of every vector to its centroid,
             folded into ONE max_by hash aggregate (columns vid, nv,
             cent_id; ties break on smallest cent_id)

    Extracted so `ivf_topk` and `dedup.semantic_dedup` provably share one
    quantizer — their docstrings claim identical centroid/assignment
    decisions, and a copy would let the two silently drift.  The single
    driver action is the memoized corpus count (see `ivf_topk`).
    """
    n = corpus_count if corpus_count is not None else _memoized_count(corpus)
    k = _ivf_k(n, target_centroids)
    vecs = _ivf_vecs(corpus, vec_col, id_col)
    cents = _ivf_draw(vecs, n, k, salt)
    return cents, _ivf_assign(vecs, cents, k, salt)


def _ivf_k(n: int, target: int | None) -> int:
    """The IVF centroid count: `target`, else the self-tuning default
    K = isqrt(n).  That default balances the two quadratic costs that
    bound IVF-family operators — centroid assignment is O(n*K) and
    within-cell work is O(n * n/K) — so sqrt(n) minimizes their sum and
    keeps BOTH sub-linear per row as the corpus grows, instead of a
    fixed K whose cells grow linearly.  math.isqrt is exact integer
    sqrt; the DuckDB oracle mirrors it as floor(sqrt(n)) in doubles,
    which agrees for every n < 2^52 (far beyond any oracle-checked
    corpus; a 100 TB corpus is ~1e11 rows)."""
    return target if target else max(1, math.isqrt(n))


def _ivf_vecs(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(vid, nv): the corpus-side IVF input, normalized once."""
    return spread_small(df).select(
        F.col(id_col).alias("vid"), V.normalize(vec_col).alias("nv")
    )


def _ivf_draw(vecs: DataFrame, n: int, k: int, salt: str) -> DataFrame:
    """The centroid draw (cent_id, cv) over normalized (vid, nv) rows:
    h48(salt || vid) % max(1, n div k) == 0, so the expected draw is ~k
    rows at any corpus size and exactly SQL-expressible."""
    modulus = max(1, n // k)
    return vecs.filter(
        H.h48(F.concat(F.lit(salt), F.col("vid").cast("string"))) % modulus == 0
    ).select(F.col("vid").alias("cent_id"), F.col("nv").alias("cv"))


def _ivf_assign(
    vecs: DataFrame, cents: DataFrame, k: int, salt: str
) -> DataFrame:
    """(vid, cent_id, nv) argmax-cosine assignment: two-level above
    `_TWO_LEVEL_MIN_CENTROIDS` (read at call time), one-hop below; both
    make the identical decision, so the switch only picks the plan."""
    if k > _TWO_LEVEL_MIN_CENTROIDS:
        return _assign_two_level(vecs, cents, k, salt)
    return _assign_one_hop(vecs, cents)


def _ivf_probes(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qn, cent_id): each query's `nprobe` best centroids by
    (cos desc, cent_id) — a window over the small query side."""
    wq = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    return (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qn", "cent_id", V.dot("qn", "cv").alias("ccos"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qn", "cent_id")
    )


def _assign_one_hop(vecs, cents):
    """argmax-cosine over ALL centroids, folded into one max_by hash
    aggregate (ties break on smallest cent_id)."""
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vid", "nv", "cent_id", V.dot("nv", "cv").alias("ccos"))
        .groupBy("vid")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("ccos"), (-F.col("cent_id")).alias("nc"))
            ).alias("cent_id"),
            F.first("nv").alias("nv"),
        )
    )


#: Two-level assignment cuts in above this centroid count.  Below it the
#: one-hop broadcast argmax is cheaper (the bound bookkeeping costs ~2x
#: n*sqrt(K) dots, which only wins once K >> sqrt(K)); the switch is on
#: target_centroids — a driver-known number — so the plan is deterministic
#: with no extra count job.  Gate/rehearsal corpora (K = isqrt(n) = 70-707)
#: stay one-hop; a 1e11-row corpus (K ~ 3e5) goes two-level.
_TWO_LEVEL_MIN_CENTROIDS = 4096


def _super_target(k: int) -> int:
    """Super-centroid count for the two-level assignment: sqrt(K), and
    the choice is MEASURED, not assumed.  The bound pass costs n*S dots
    of pure overhead when a cell's bound fails to prune, so raising S
    only pays if the extra supers collapse the surviving-candidate set;
    at K=8192 / n=200k (SCALING.md) S=isqrt(K)=90 beat one-hop on
    both corpus shapes (0.78x isotropic, 0.92x clustered) while a
    cluster-covering S=1024 REGRESSED to 1.39x of one-hop — the
    per-element HOF dot is the dominant constant, and n*(2S + survivors)
    crosses n*K well before S covers real cluster structure.  sqrt(K)
    keeps the worst case at one-hop-parity dot count with the n-row
    shuffle removed."""
    return max(1, math.isqrt(k))


def _assign_two_level(vecs, cents, target_centroids: int, salt: str):
    """EXACT argmax-cosine assignment in two hops: with
    K = isqrt(n) centroids, the one-hop assignment is O(n*K) = O(n^1.5)
    dot products — the dominant super-linear term at ~1e11 rows (and the
    broadcast grows to ~K vectors).  This prunes with S ~= sqrt(K)
    SUPER-centroids (a deterministic hash-subsample OF the centroids) and
    the spherical triangle inequality, while provably returning the
    IDENTICAL assignment — same argmax, same tie-break — so every oracle
    hash downstream (ivf_topk, semantic_dedup) is unchanged:

    - every centroid c is assigned to its nearest super-centroid s(c);
      each super-cell s records cos_rad_s = min cos(c, s) over its
      members (the cosine of the cell's angular radius);
    - for a vector v and cell s, angles are subadditive on the sphere:
      θ(v,c) >= θ(v,s) - θ(s,c) >= θ(v,s) - rad_s, and cos is decreasing
      on [0, π], so  cos(v,c) <= cos(max(0, θ(v,s) - rad_s))  for EVERY
      c in s — a per-cell upper bound ub(v,s) computable from dot(v,s)
      and cos_rad_s alone;
    - lb(v) = max_s dot(v,s) is an achieved cosine (super-centroids ARE
      centroids), so any cell with ub(v,s) < lb(v) cannot contain the
      argmax and is pruned.  The true argmax centroid's own cell always
      survives (ub bounds it from above by >= its achieved cosine >= lb),
      so the final max_by over surviving cells' centroids equals the
      one-hop decision exactly.  A float guard (_EPS subtracted on the
      prune side only) makes IEEE rounding err LOOSER, never stricter.

    The whole assignment is ROW-LOCAL: the S bound rows and the K-row
    cell->centroids table are folded into two single-row broadcast
    literals (collect_list aggregates over tiny inputs), attached by
    broadcast cross join, and every step — bound dots, lb, pruning, the
    exact argmax fold — runs as codegen'd higher-order functions inside
    the scan stage.  Zero exchanges of vector rows (one-hop pays one
    groupBy(vid) shuffle; an earlier draft of this function shuffled
    n x S nv-carrying rows through the lb join and was measured
    unrunnable at K=8192 — 15 GB spill, no task completion in 20 min).
    Per-row cost: S bound dots + (surviving cells' centroids) exact dots
    — ~sqrt(K) + K/prune_factor instead of K; worst case (nothing
    prunes, e.g. an isotropic corpus where every cell's angular radius
    is wide) degrades to one-hop's dot count plus the S-dot overhead,
    never to a wrong answer.  P(no super-centroid sampled) =
    (1 - 1/smod)^K ~ e^-S — with the S >= 64 this switch guarantees,
    physically impossible.
    """
    _EPS = 1e-12
    s_target = _super_target(target_centroids)
    smod = max(1, target_centroids // s_target)
    sup = cents.filter(
        H.h48(F.concat(F.lit(salt + "sup:"), F.col("cent_id").cast("string")))
        % smod
        == 0
    ).select(F.col("cent_id").alias("sid"), F.col("cv").alias("sv"))

    # centroid -> super-cell (K x S dots, tiny) + per-cell angular radius.
    # Every super is a centroid and lands in its own cell (cos(s,s)=1), so
    # radii covers every sid and the cells map covers every surviving sid.
    c2s = (
        cents.crossJoin(F.broadcast(sup))
        .select("cent_id", "cv", "sid", V.dot("cv", "sv").alias("sco"))
        .groupBy("cent_id")
        .agg(
            F.max_by("sid", F.struct(F.col("sco"), (-F.col("sid")).alias("ns"))).alias("sid"),
            F.max("sco").alias("sco"),
            F.first("cv").alias("cv"),
        )
    )
    radii = c2s.groupBy("sid").agg(F.min("sco").alias("cos_rad"))
    # single-row broadcast literals: S bound structs; sid -> [(cent_id, cv)]
    sup_row = (
        sup.join(radii, "sid")
        .agg(F.collect_list(F.struct("sid", "sv", "cos_rad")).alias("_sups"))
    )
    cell_row = (
        c2s.groupBy("sid")
        .agg(F.collect_list(F.struct("cent_id", "cv")).alias("cell"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("sid", "cell"))).alias(
                "_cells"
            )
        )
    )

    x = (
        vecs.crossJoin(F.broadcast(sup_row))
        .crossJoin(F.broadcast(cell_row))
        # bound pass: one dot per super, kept with its cell radius
        .withColumn(
            "_sc",
            F.transform(
                "_sups",
                lambda sp: F.struct(
                    sp["sid"].alias("sid"),
                    V.dot(F.col("nv"), sp["sv"]).alias("scos"),
                    sp["cos_rad"].alias("cos_rad"),
                ),
            ),
        )
        # lb(v): achieved cosine (supers ARE centroids)
        .withColumn(
            "_lb", F.array_max(F.transform("_sc", lambda s: s["scos"]))
        )
    )

    # ub(v,s) = cos(max(0, θ(v,s) - rad_s))
    #         = scos*cos_rad + sqrt(1-scos²)*sqrt(1-cos_rad²) when θ > rad,
    #           1 otherwise — standard angle-difference identity.
    def _ub(s):
        return F.when(
            s["scos"] < s["cos_rad"],
            s["scos"] * s["cos_rad"]
            + F.sqrt(F.greatest(F.lit(0.0), 1 - s["scos"] * s["scos"]))
            * F.sqrt(F.greatest(F.lit(0.0), 1 - s["cos_rad"] * s["cos_rad"])),
        ).otherwise(F.lit(1.0))

    cand = F.flatten(
        F.transform(
            F.filter("_sc", lambda s: _ub(s) >= F.col("_lb") - F.lit(_EPS)),
            lambda s: F.element_at("_cells", s["sid"]),
        )
    )
    # exact argmax fold — replace when strictly greater, or equal with a
    # smaller cent_id: the same total order as one-hop's
    # max_by(struct(ccos, -cent_id)), so the winner is traversal-order
    # independent.  The dot is lambda-bound through a 1-element array so
    # it is computed once per candidate.
    cent_dt = cents.schema["cent_id"].dataType.simpleString()
    best = F.aggregate(
        cand,
        F.struct(
            F.lit(-2.0).cast("double").alias("ccos"),
            F.lit(None).cast(cent_dt).alias("cent_id"),
        ),
        lambda acc, c: F.element_at(
            F.transform(
                F.array(V.dot(F.col("nv"), c["cv"])),
                lambda d: F.when(
                    (d > acc["ccos"])
                    | ((d == acc["ccos"]) & (c["cent_id"] < acc["cent_id"])),
                    F.struct(d.alias("ccos"), c["cent_id"].alias("cent_id")),
                ).otherwise(acc),
            ),
            1,
        ),
    )
    return x.select("vid", best["cent_id"].alias("cent_id"), "nv")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    target_centroids: int = 256,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf:",
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus onto sampled
    centroid vectors, probe each query's `nprobe` closest cells, exact-rerank
    inside the probed cells only.

    Centroids are a deterministic hash-sample of the corpus itself, sized
    to a FIXED target count: sampling modulus = max(1, n // target_centroids)
    with h48(salt || id) % modulus == 0, so the expected centroid count is
    ~target_centroids regardless of corpus size.  That keeps both scale
    hazards bounded as the corpus grows: the broadcast side stays
    ~target_centroids rows (constant, never corpus/ratio), and assignment
    stays O(n * target_centroids) dot products (linear in n, never
    O(n²/ratio)).  At 100 TB you raise target_centroids (e.g. to ~sqrt(n),
    the classic IVF sizing) — the broadcast is still just K vectors.
    No k-means fit pass: a trained quantizer probes fewer/better cells but
    needs an iterative fit whose float accumulation order is not
    reproducible cross-engine; the sampled quantizer keeps the whole
    operator exactly oracle-checkable (the oracle derives the same modulus
    from the same count).

    The one driver-side action is the scalar `corpus.count()` that fixes
    the modulus — one lightweight job, same class as broadcast planning.
    Pass `corpus_count` (e.g. a cached table statistic) to skip it; without
    it the count memoizes per (session, plan) so repeated builds of the
    same query — gate, bench passes, plan lint — scan the corpus once, and
    only the first build's timing includes the count job.

    Plan shape: centroid assignment is a broadcast nested-loop over the
    small centroid table folded into one max_by aggregate per vector (all
    codegen, map-side partials); the probe join shuffles corpus and queries
    by cell id only.  Ties in assignment and probing break on centroid id,
    so results are fully deterministic.
    """
    if dim is None:
        raise ValueError("pass dim explicitly (no driver-side inference)")
    cents, assign = ivf_quantize(
        corpus, target_centroids, vec_col, id_col, salt, corpus_count
    )
    assign = assign.select(F.col("vid").alias("neighbor_id"), "nv", "cent_id")
    q = queries.select(F.col(id_col).alias("query_id"), V.normalize(vec_col).alias("qn"))
    return ivf_probe_topk(cents, assign, q, k, nprobe)


def ivf_probe_topk(
    cents: DataFrame, assign: DataFrame, q: DataFrame, k: int, nprobe: int
) -> DataFrame:
    """Shared IVF probe + exact in-cell rerank — extracted so the scan
    path (`ivf_topk`) and the persisted-index path
    (`search_index.ann_index_lookup`) provably make the SAME probe and
    rerank decisions (their bit-identity is a test contract).  cents =
    (cent_id, cv); assign = (neighbor_id, nv, cent_id); q = (query_id,
    qn normalized)."""
    scored = (
        _ivf_probes(q, cents, nprobe)
        .join(assign, "cent_id")  # the IVF cell join: shuffle on cell id
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", _score_entry(V.dot("qn", "nv")).alias("entry"))
    )
    return _two_phase_topk(scored, k)


def margin_bitext(
    src: DataFrame,
    corpus: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    CCMatrix/WikiMatrix parallel-corpus construction rule): for every
    SOURCE sentence, the best TARGET candidate scored by the RATIO
    margin

        margin(x, y) = cos(x, y) / ((mean_kNN(x->corpus) + mean_kNN(y->src)) / 2)

    — raw cosine over-mines hubs (sentences close to everything);
    normalizing by both sides' k-NN neighborhoods is what made mined
    corpora usable for MT training.  `src` is a bounded mining batch
    (the blockwise regime real pipelines run; its vectors broadcast),
    `corpus` is the 100 TB side.

    Output: (src_id, tgt_id, cos_sim, margin, mined) — the single
    best-margin target per source (ties on tgt_id), `mined` = margin >=
    threshold (emitting the decision rather than filtering keeps
    below-threshold batches observable).

    Float exactness (oracle contract): every k-NN mean is a LEFT FOLD
    over the RANK-ORDERED top-k cosine list (the two-phase top-k's
    deterministic order; DuckDB's list_sum is the same left fold per
    functions/vectors.py), and the margin division sees bit-identical
    operands in both engines — no order-dependent aggregate anywhere.

    Plan shape at 100 TB: one corpus scan fans out |src| row-local dots
    (broadcast src), source-side top-k via the two-phase reduction;
    the candidate set is bounded by |src| * k, so the target-side k-NN
    (each candidate vs the src batch) and the margin join are
    bounded-small broadcasts.  Nothing quadratic in the corpus.
    """
    q = src.select(
        F.col(id_col).alias("src_id"), V.normalize(vec_col).alias("qn")
    )
    c = spread_small(corpus).select(
        F.col(id_col).alias("tgt_id"), V.normalize(vec_col).alias("cn")
    )

    # source -> corpus: per-src rank-ordered top-k (two-phase)
    entry = F.struct(
        (-F.col("cos")).alias("neg_cos"),
        F.col("tgt_id").alias("tgt_id"),
        F.col("cos").alias("cos"),
    )
    scored = c.join(F.broadcast(q), how="cross").select(
        "src_id", V.dot("qn", "cn").alias("cos"), "tgt_id"
    )
    partial = scored.select("src_id", entry.alias("e")).groupBy(
        "src_id", F.spark_partition_id().alias("_pid")
    ).agg(F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("topk"))
    merged = partial.groupBy("src_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("topk"))), 1, k).alias("topk")
    )
    fold_mean = lambda arr: F.aggregate(  # noqa: E731 — shared fold shape
        arr, F.lit(0.0), lambda a, e: a + e["cos"]
    ) / F.size(arr)
    src_side = merged.select(
        "src_id",
        fold_mean(F.col("topk")).alias("mean_src"),
        F.explode("topk").alias("e"),
    ).select(
        "src_id", "mean_src", F.col("e.tgt_id").alias("tgt_id"),
        F.col("e.cos").alias("cos"),
    )

    # target -> src batch: each CANDIDATE target's rank-ordered top-k
    # over the (bounded) source batch; candidates are <= |src| * k rows
    cand = src_side.select("tgt_id").distinct()
    tscored = (
        c.join(F.broadcast(cand), "tgt_id")
        .join(F.broadcast(q), how="cross")
        .select(
            "tgt_id",
            F.struct(
                (-V.dot("qn", "cn")).alias("neg_cos"),
                F.col("src_id").alias("src_id"),
                V.dot("qn", "cn").alias("cos"),
            ).alias("e"),
        )
    )
    tgt_side = tscored.groupBy("tgt_id").agg(
        F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("topk")
    ).select("tgt_id", fold_mean(F.col("topk")).alias("mean_tgt"))

    margins = src_side.join(F.broadcast(tgt_side), "tgt_id").withColumn(
        "margin", F.col("cos") / ((F.col("mean_src") + F.col("mean_tgt")) / 2)
    )
    best = margins.groupBy("src_id").agg(
        F.min(
            F.struct(
                (-F.col("margin")).alias("nm"),
                F.col("tgt_id").alias("tgt_id"),
                F.col("cos").alias("cos"),
                F.col("margin").alias("margin"),
            )
        ).alias("m")
    )
    return best.select(
        "src_id",
        F.col("m.tgt_id").alias("tgt_id"),
        F.col("m.cos").alias("cos_sim"),
        F.col("m.margin").alias("margin"),
        (F.col("m.margin") >= F.lit(threshold)).alias("mined"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC): Jégou, Douze & Schmid, "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 — the FAISS
# memory-bound serving path the SQ8/IVF/RP-LSH trio was missing.
# ---------------------------------------------------------------------------

#: micro-unit fixed point for PQ distances: quantizing every per-subspace
#: partial distance to floor(d * 1e6 + 0.5) makes the ADC sum an INTEGER —
#: order-free across partitions and exactly mirrored by the oracle (the
#: rrf_score_nano / feature_ufp precedent); 1e-6 is far below any ranking
#: gap the 64-dim unit vectors produce.
PQ_MICRO = 1_000_000


def _pq_subvectors(df, dim: int, m: int, id_col: str, out_id: str, vec_col: str):
    """(out_id, m, sv): each vector normalized once, then split into m
    contiguous subvectors of dim/m components (posexplode keeps the
    subspace index)."""
    ds = dim // m
    nv = df.select(
        F.col(id_col).alias(out_id), V.normalize(vec_col).alias("nv")
    )
    slices = F.array(*[F.slice("nv", j * ds + 1, ds) for j in range(m)])
    return nv.select(out_id, F.posexplode(slices).alias("m", "sv"))


def _pq_dist_micro(a: str, b: str) -> Column:
    """Integer micro-unit squared L2 between two subvectors: the fold
    accumulates (x-y)^2 left-to-right in double (the V.dot order
    contract) and quantizes ONCE at the end."""
    sq = F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.floor(sq * PQ_MICRO + F.lit(0.5)).cast("long")


def pq_codes(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    target_codes: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "pq:",
    corpus_count: int | None = None,
):
    """Per-subspace codebooks + corpus PQ codes.

    Codebooks are deterministic hash-samples per subspace (expected
    ~target_codes entries at ANY corpus size; code id = donor vec_id —
    the IVF cent_id convention, no renumbering pass), so the DuckDB
    oracle reproduces the draw exactly.  Encoding assigns each vector's
    subvector to its nearest codebook entry by INTEGER micro-L2 (ties
    -> smallest code) — one broadcast join on the subspace key + one
    min_by hash aggregate.

    Returns (cb, codes): cb = (m, code, cv), bounded ~m*target_codes
    rows by the sampling construction; codes = (vid, m, code) — the
    m-byte-per-vector compressed corpus representation (kept in long
    form: ADC consumes exactly this shape).

    Plan shape at 100 TB: the corpus-scale work is one m-way row-local
    fan-out + one broadcast-join-and-aggregate pass; the codebook draw
    is a filter on the same pass.  Codes are what downstream serving
    reads — m codes instead of dim floats, the 32x scan-bytes cut that
    is PQ's entire point.
    """
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    n = corpus_count if corpus_count is not None else _memoized_count(corpus)
    modulus = max(1, n // target_codes)
    sub = _pq_subvectors(spread_small(corpus), dim, m, id_col, "vid", vec_col)
    cb = sub.filter(
        H.h48(
            F.concat(
                F.lit(salt),
                F.col("m").cast("string"),
                F.lit(":"),
                F.col("vid").cast("string"),
            )
        )
        % modulus
        == 0
    ).select("m", F.col("vid").alias("code"), F.col("sv").alias("cv"))
    return cb, _pq_encode_sub(sub, cb)


def _pq_encode_sub(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codebook-entry assignment of long-form subvectors
    (vid, m, sv) against a bounded codebook (m, code, cv): one broadcast
    join on the subspace key + one min_by hash aggregate, integer
    micro-L2 with (dmicro, code) tie-break.  Factored so
    `pq_codes` and the persisted IVFPQ index's extend/re-encode hooks
    provably share one encoder — a copy would let the stored codes
    silently drift from the scan path's."""
    return (
        sub.join(F.broadcast(cb), "m")
        .select("vid", "m", "code", _pq_dist_micro("sv", "cv").alias("dmicro"))
        .groupBy("vid", "m")
        .agg(F.min_by("code", F.struct("dmicro", "code")).alias("code"))
    )


def pq_encode(
    df: DataFrame,
    cb: DataFrame,
    dim: int,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors against a FIXED codebook (the persisted-index
    extension path: codebooks are fixed at creation, extensions encode
    against the stored generation — the PQ analogue of
    `extend_ann_index`'s fixed-centroid contract).  Returns
    (vid, m, code)."""
    sub = _pq_subvectors(spread_small(df), dim, m, id_col, "vid", vec_col)
    return _pq_encode_sub(sub, cb)


def _adc_rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase top-k over ADC scores (query_id, vid, adc) — the
    (query, partition) partial-merge every ANN operator here uses,
    factored so the scan paths and the persisted IVFPQ index
    lookup share one ranking.  Output: (query_id, neighbor_id, rank,
    adc_dist_micro), rank 1..k by (adc asc, neighbor_id asc)."""
    entries = scored.select(
        "query_id",
        F.struct(
            F.col("adc").alias("adc"),
            F.col("vid").alias("neighbor_id"),
        ).alias("entry"),
    )
    partial = entries.groupBy(
        "query_id", F.spark_partition_id().alias("_pid")
    ).agg(F.slice(F.array_sort(F.collect_list("entry")), 1, k).alias("topk"))
    merged = partial.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("topk"))), 1, k).alias(
            "topk"
        )
    )
    return (
        merged.select("query_id", F.posexplode("topk").alias("_pos", "e"))
        .select(
            "query_id",
            F.col("e.neighbor_id").alias("neighbor_id"),
            (F.col("_pos") + 1).alias("rank"),
            F.col("e.adc").alias("adc_dist_micro"),
        )
        .orderBy("query_id", "rank")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    target_codes: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "pq:",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the ADC form: queries
    stay exact, the corpus is its codes): per query, a distance TABLE
    of integer micro partial distances to every codebook entry
    (|queries| * m * target_codes rows, bounded), then each doc's ADC
    distance is the SUM of its m addressed table cells — one equi-join
    of the long-form codes against the broadcast table + one integer
    sum aggregate, never a vector op against the corpus at query time.

    Output: (query_id, neighbor_id, rank, adc_dist_micro), rank 1..k by
    (distance asc, neighbor_id asc); self-matches excluded.  Approximate
    by construction (quantization error); hash-exact vs the oracle
    because both engines walk identical integer tables.

    Plan shape at 100 TB: the corpus-side scan reads CODES, not
    embeddings (m longs vs dim floats — the memory-bound serving
    regime); scoring is m bounded-table lookups per doc via one
    broadcast hash join, partial-aggregated map-side; top-k is the
    two-phase (query, partition) merge every ANN operator here uses.
    """
    cb, codes = pq_codes(
        corpus, dim, m=m, target_codes=target_codes,
        vec_col=vec_col, id_col=id_col, salt=salt,
    )
    qsub = _pq_subvectors(queries, dim, m, id_col, "query_id", vec_col)
    dtable = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "code", _pq_dist_micro("sv", "cv").alias("pdist")
    )
    scored = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", "vid")
        .agg(F.sum("pdist").cast("long").alias("adc"))
    )
    return _adc_rank_topk(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    target_codes: int = 64,
    nprobe: int = 2,
    target_centroids: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ivf_salt: str = "ivf:",
    pq_salt: str = "pq:",
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF-PQ (the full FAISS IVFPQ serving composition): coarse IVF
    pruning to each query's `nprobe` cells, then PQ-ADC scoring of the
    PRUNED candidates only — the shape that serves ANN at 100 TB, where
    neither a full scan (brute force / plain PQ) nor exact in-cell
    rerank over raw vectors (plain IVF reads dim floats per candidate)
    is affordable.  Composition of two proven pieces: `ivf_quantize`'s
    cells (the gate-green coarse quantizer, probe ties on cent_id) and
    `pq_codes`' integer micro-unit ADC (the ann_pq_topk machinery).

    Output: (query_id, neighbor_id, rank, adc_dist_micro), rank 1..k by
    (ADC distance asc, id asc) WITHIN the probed cells; self-matches
    excluded.

    Plan shape at 100 TB: probe selection is |queries| x K broadcast
    dots; the cell join shuffles the CODES (m longs per vector), not
    embeddings; ADC is one broadcast distance-table join + integer sum
    over the candidate set (~nprobe/K of the corpus).  The one-time
    builds (cell assignment + encode) are the honest linear passes,
    paid once per index lifetime in production.
    """
    n = corpus_count if corpus_count is not None else _memoized_count(corpus)
    cents, assign = ivf_quantize(
        corpus, target_centroids, vec_col, id_col, ivf_salt, n
    )
    cb, codes = pq_codes(
        corpus, dim, m=m, target_codes=target_codes,
        vec_col=vec_col, id_col=id_col, salt=pq_salt, corpus_count=n,
    )
    # cell membership in long form alongside the codes: (vid, cent_id)
    cells = assign.select("vid", "cent_id")

    q = queries.select(
        F.col(id_col).alias("query_id"), V.normalize(vec_col).alias("qn")
    )
    # candidates: (query_id, vid) pairs inside probed cells
    cands = (
        _ivf_probes(q, cents, nprobe)
        .select("query_id", "cent_id")
        .join(cells, "cent_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    qsub = _pq_subvectors(queries, dim, m, id_col, "query_id", vec_col)
    dtable = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "code", _pq_dist_micro("sv", "cv").alias("pdist")
    )
    scored = (
        cands.join(codes, "vid")
        .join(F.broadcast(dtable), ["query_id", "m", "code"])
        .groupBy("query_id", "vid")
        .agg(F.sum("pdist").cast("long").alias("adc"))
    )
    return _adc_rank_topk(scored, k)


# ---------------------------------------------------------------------------
# Deterministic spherical k-means (Lloyd refinement of the hash draw)
# ---------------------------------------------------------------------------

#: centroid components are averaged in INTEGER micro-units so the sums
#: are order-free (a double sum over an arbitrary-size cluster is
#: order-dependent and would break the cross-engine mirror); 1e-6 is far
#: below any assignment margin the unit vectors produce
KM_MICRO = 1_000_000


def kmeans_refine(
    corpus: DataFrame,
    rounds: int = 2,
    target_centroids: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf:",
    corpus_count: int | None = None,
):
    """Spherical k-means: the shared IVF hash draw as init, then `rounds`
    Lloyd iterations — assign every vector to its argmax-cosine centroid
    (the SHARED `_ivf_assign` machinery), then
    recompute each centroid as the RENORMALIZED mean of its members.
    This is the trained-quantizer upgrade over the one-shot draw that
    `ivf_quantize` (and therefore SemDeDup / the ANN index family)
    founds on: the draw is unbiased but untrained, and cluster quality
    is what bounds SemDeDup's within-cell recall and IVF's probe cost
    (cf. Jégou et al. 2011, who train the coarse quantizer by exactly
    this Lloyd process).

    Determinism contract (what makes it oracle-exact rather than
    approximately-close): member means are computed in INTEGER
    micro-units — each normalized component is quantized ONCE to
    floor(x * 1e6 + 0.5), summed exactly (integer sums are order-free
    under any partitioning), divided by the member count with integer
    DIV, and only then rescaled to double and renormalized through the
    shared fixed-order `V.normalize`.  Both engines therefore see
    bit-identical centroids at every round, so assignments (ties on
    smallest cent_id) match exactly.  Centroids keep their ORIGINAL
    cent_id (the founding donor's vid) across rounds; a centroid whose
    cell empties vanishes (no members -> no row), the standard Lloyd
    degeneracy, stated rather than patched.

    Returns (cents, assign): cents = (cent_id, cv) — the refined
    generation, bounded ~target_centroids rows; assign = (vid, nv,
    cent_id) under the final generation.

    Plan shape at 100 TB: per round, one broadcast argmax pass over the
    corpus (the ivf_topk assignment cost, two-level above the K
    threshold) + one (cent_id, dim)-keyed integer sum whose output is
    K * dim rows — bounded by construction, broadcastable back.  Rounds
    are a small constant (2 by default); nothing quadratic anywhere.
    """
    if rounds < 1:
        raise ValueError("need rounds >= 1")
    n = corpus_count if corpus_count is not None else _memoized_count(corpus)
    _, assign = ivf_quantize(corpus, target_centroids, vec_col, id_col, salt, n)
    return _lloyd_rounds(assign, rounds, _ivf_k(n, target_centroids), salt)


def _lloyd_rounds(
    assign: DataFrame, rounds: int, k: int, salt: str
) -> tuple[DataFrame, DataFrame]:
    """The deterministic Lloyd core of `kmeans_refine`, factored out so
    the persisted-index founding/recluster paths (`search_index.
    build_ann_index` / `maintain_ann_index` and the IVFPQ twins,
    `refine_rounds=N`) run the EXACT shared
    iteration: integer-micro member means, DIV quotients, the shared
    renormalize and argmax re-assignment.  `assign` is an initial
    (vid, nv, cent_id) generation (normally `ivf_quantize`'s draw); `k`
    only selects the assignment strategy (two-level above the
    threshold).  Returns (cents, assign) under the final generation —
    see `kmeans_refine` for the full determinism contract."""
    cents = None
    vecs = None  # reuse assign's (vid, nv) — already normalized once
    for _ in range(rounds):
        # integer-micro member means, keyed by (cent_id, dim index)
        comp = assign.select(
            "cent_id",
            F.posexplode(
                F.transform(
                    "nv",
                    lambda x: F.floor(x * KM_MICRO + F.lit(0.5)).cast("long"),
                )
            ).alias("i", "q"),
        )
        means = (
            comp.groupBy("cent_id", "i")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("c"))
            .select(
                "cent_id",
                "i",
                # components are signed: Spark's DIV and DuckDB's //
                # both truncate toward zero on BIGINT (verified -7/2 ->
                # -3 on both), so the quotient matches cross-engine
                # even for negative sums
                F.expr("s DIV c").alias("m"),
            )
        )
        new_cv = (
            means.groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("i", "m"))
                ).alias("im")
            )
            .select(
                "cent_id",
                F.transform(
                    "im", lambda e: e["m"].cast("double") / F.lit(float(KM_MICRO))
                ).alias("raw"),
            )
            .select("cent_id", V.normalize("raw").alias("cv"))
        )
        cents = new_cv
        if vecs is None:
            vecs = assign.select("vid", "nv")
        assign = _ivf_assign(vecs, cents, k, salt)
    return cents, assign
