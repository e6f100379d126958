"""Persisted inverted index with shard-pruned term lookup.

The scan-based retrieval operators (`text_analysis.bm25_topk`,
`phrase_matches`) pay one full corpus scan per query batch — right for
one-off analytics, wrong for a SERVING corpus queried repeatedly.  This
module materializes the classic IR structure instead: a POSITIONAL
term->postings index (tf, doc length, and sorted token positions per
posting), stored once, with every later query reading ONLY the shards
its terms hash to — BM25 ranking and quoted-phrase queries off the same
store.

Storage is a `TransactionalTable` (sources/txlog.py) partitioned by a
namespaced shard key — the exact architecture the streaming near-dup
stores proved out (`streaming/stateful.py`: shard-aligned appends,
driver-side commit-log pruning via `read_where`, O(matching files) reads
no matter how large the table grows):

    shard = "t<h48(term) % n_shards>"   posting rows (term, doc_id, tf,
                                        dl, positions)
    shard = "m"                         one meta row PER SEGMENT
                                        (n_docs, tot_tokens, n_shards —
                                        the hash-route modulus is stored
                                        data, never inferred from layout;
                                        readers SUM the rows)

Shard count derives from corpus scale through the same
`shards_for_store` sizing rule as the streaming stores, so a posting
shard's row count stays bounded as the corpus grows.  Stopword terms
spread across documents, not shards — a hot term's postings are one
shard's bounded scan, and `bm25_lookup` aggregates them with map-side
partials, never a driver collect.

At 100 TB: build is one (doc, term) aggregate + one shard-partitioned
append (the heavy shuffle happens ONCE, at build); each query then costs
O(|query terms|) shard files instead of a corpus scan.  The index-backed
`bm25_lookup` is pinned bit-identical to the scan-based `bm25_topk` by
tests/test_search_index.py, and the pruned-read file count is asserted
the same way the streaming stores assert theirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.functions import hashing as H
from apache_kafka_clickhouse_demo_spark.functions import text as TX
from apache_kafka_clickhouse_demo_spark.functions import vectors as V
from apache_kafka_clickhouse_demo_spark.operators import similarity as _S
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
from apache_kafka_clickhouse_demo_spark.sources.tables import spread_small
from apache_kafka_clickhouse_demo_spark.streaming.stateful import shards_for_store
from apache_kafka_clickhouse_demo_spark.operators.text_analysis import (
    bm25_score_topk,
)

#: meta partition value (single row carrying corpus statistics)
META_SHARD = "m"


def _segment_frames(
    docs: DataFrame, n_shards: int, text_col: str, id_col: str
) -> DataFrame:
    """One segment's postings + meta row as a single frame (the unit both
    build and extend publish atomically)."""
    toks = TX.tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = spread_small(docs).select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    )
    postings = (
        base.select(
            "doc_id",
            F.size("_toks").cast("long").alias("dl"),
            F.posexplode("_toks").alias("_p0", "term"),
        )
        .groupBy("doc_id", "dl", "term")
        # positions are 1-based token indices (posexplode is 0-based),
        # sorted so the phrase intersect and any future delta-encoding
        # see a canonical order; tf == size(positions) by construction
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list(F.col("_p0") + 1)).alias("positions"),
        )
        .select(
            F.concat(F.lit("t"), (H.h48("term") % n_shards).cast("string")).alias(
                "shard"
            ),
            "term",
            "doc_id",
            "tf",
            "dl",
            "positions",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("tot_tokens"),
            F.lit(None).cast("long").alias("n_shards"),
        )
    )
    meta = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("_toks")).cast("long").alias("tot_tokens"),
    ).select(
        F.lit(META_SHARD).alias("shard"),
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("tf"),
        F.lit(None).cast("long").alias("dl"),
        F.lit(None).cast("array<int>").alias("positions"),
        "n_docs",
        "tot_tokens",
        # the hash-route parameter is DATA, not layout: recovering it
        # from observed shard directories would mis-route lookups on a
        # sparse index (a 3-term corpus built at 64 shards occupies few
        # directories, and a wrong modulus silently reads the wrong
        # shard and returns empty postings — a correctness bug, not a
        # perf one)
        F.lit(int(n_shards)).cast("long").alias("n_shards"),
    )
    return postings.unionByName(meta)


def _fresh_index(path: str, kind: str, extend: str) -> TransactionalTable:
    """The table a build creates at `path`.  A path that already holds a
    committed index raises — re-running a create over an existing index
    would double-publish segment 0's stats; extension is the explicit
    API, not a silent second create."""
    table = TransactionalTable(path)
    if table.version() >= 0:
        raise ValueError(
            f"{kind} at {path} already built (version {table.version()}); "
            f"grow it with {extend}, or rebuild into a fresh path"
        )
    return table


def build_term_index(
    docs: DataFrame,
    path: str,
    n_shards: int | None = None,
    expected_corpus_rows: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> TransactionalTable:
    """Create the inverted index at `path` from `docs` (the first
    SEGMENT); grow it later with `extend_term_index`.  A path that
    already holds a committed index raises (`_fresh_index`).

    One explode -> (doc, term) count aggregate (the build's single
    corpus-scale shuffle, map-side partials), doc length carried through
    the explode as a grouping constant (no second scan), then ONE
    shard-partitioned transactional append publishing postings and the
    segment's meta row atomically — a reader never sees postings without
    their corpus stats.  `n_shards` defaults to the `shards_for_store`
    sizing rule on `expected_corpus_rows` (estimated VOCABULARY-side
    rows; pass the EVENTUAL corpus size when the index will grow — the
    modulus is fixed at creation).
    """
    if n_shards is None:
        if expected_corpus_rows is None:
            expected_corpus_rows = docs.count() * 100
        n_shards = shards_for_store(expected_corpus_rows)
    seg = _segment_frames(docs, n_shards, text_col, id_col)
    table = _fresh_index(path, "index", "extend_term_index")
    # CAS at version 0: two concurrent creators both passing the check
    # above would otherwise both append (retrying version numbers is
    # append()'s normal contention behavior) and publish TWO segment-0
    # meta rows.  The loser gets ConcurrentWriteError instead.
    table.append(seg, partition_by="shard", cas_version=-1)
    return table


def extend_term_index(
    docs: DataFrame,
    table: TransactionalTable,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> TransactionalTable:
    """Append a segment of NEW documents to an existing index — the
    Lucene-segment model: each extension publishes its own postings plus
    its own meta row in one atomic commit, and readers SUM the meta rows
    (`index_meta`), so corpus stats are exact at every committed version
    with no read-modify-write on shared state (concurrent extensions
    compose — append retries version numbers; nothing is overwritten).

    Contract: each doc_id appears in exactly ONE segment (an append-only
    corpus).  A doc re-ingested in a second segment would carry two
    posting rows per term and inflate df/tf — dedupe upstream
    (`url_dedup` / `dedup_exact` are the pipeline stages for exactly
    that).  The shard modulus is read from the existing index, so every
    segment routes terms identically.
    """
    n_shards = index_shard_count(docs.sparkSession, table)
    table.append(
        _segment_frames(docs, n_shards, text_col, id_col), partition_by="shard"
    )
    return table


def _term_shards(terms: list[str], n_shards: int) -> set[str]:
    return {f"t{H.py_h48(t) % n_shards}" for t in terms}


def index_shard_count(
    spark: SparkSession, table: TransactionalTable, version: int | None = None
) -> int:
    """The index's hash-route parameter, read from the meta rows.  Stored
    as data, never inferred from layout: a sparse index (few distinct
    terms) occupies few shard directories, and a layout-derived modulus
    would route lookups to the WRONG shard — empty postings, silently."""
    return int(index_meta(spark, table, version=version).first()["n_shards"])


def term_lookup(
    spark: SparkSession,
    table: TransactionalTable,
    terms: list[str],
    with_positions: bool = False,
    version: int | None = None,
) -> DataFrame:
    """Postings for `terms`: (term, doc_id, tf, dl[, positions]), reading
    ONLY the shards the terms hash to (driver-side commit-log pruning —
    the same `read_where` the streaming stores use; cost O(|terms|)
    files).  `with_positions` adds the 1-based token-position array
    (parquet column pruning keeps the plain lookup from paying for it);
    `version` pins the read to a committed snapshot (time travel —
    reproducible retrieval over a growing index).

    The hash-route modulus is always READ FROM THE INDEX (`index_meta`'s
    stored n_shards, a 1-row pruned read) — there is deliberately no
    caller override: a wrong modulus routes to the wrong shard and
    returns EMPTY postings silently, exactly the failure the
    stored-modulus design exists to prevent."""
    n_shards = index_shard_count(spark, table, version=version)
    rows = table.read_where(
        spark, "shard", sorted(_term_shards(terms, n_shards)), version=version
    )
    cols = ["term", "doc_id", "tf", "dl"] + (
        ["positions"] if with_positions else []
    )
    return rows.filter(F.col("term").isin(terms)).select(*cols)


def index_meta(
    spark: SparkSession, table: TransactionalTable, version: int | None = None
) -> DataFrame:
    """1-row (n_docs, tot_tokens, n_shards) corpus stats: the SUM over
    the per-segment meta rows (one per build/extend commit — the segment
    model's merge-on-read, the same algebra as the MergeTree state
    columns).  n_shards is invariant across segments by construction
    (extend reads it from the index); min==max is asserted so a
    hand-corrupted store fails loudly instead of mis-routing."""
    rows = table.read_where(spark, "shard", [META_SHARD], version=version)
    # the assert rides INSIDE the consumed value (assert_true is NULL on
    # success, so coalesce passes min through) — a separate checked
    # column would be pruned away with its check (pruned work never runs)
    checked = F.coalesce(
        F.assert_true(
            F.min("n_shards") == F.max("n_shards"),
            F.lit("index meta rows disagree on n_shards — corrupted store"),
        ).cast("long"),
        F.min("n_shards").cast("long"),
    )
    return rows.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("tot_tokens").cast("long").alias("tot_tokens"),
        checked.alias("n_shards"),
    )


def bm25_lookup(
    spark: SparkSession,
    table: TransactionalTable,
    queries: list[tuple[int, str]],
    k: int = 10,
    version: int | None = None,
) -> DataFrame:
    """Index-backed BM25: the same integer-exact scoring as
    `text_analysis.bm25_topk` (same idf surrogate, same cleared-denominator
    tf saturation, same two-phase top-k — bit-identical output, pinned by
    test) fed from pruned posting reads instead of a corpus scan.

    Per query batch this touches O(|query vocabulary|) shard files plus
    the 1-row meta partition; document frequency re-aggregates from the
    pruned postings (bounded by |query vocabulary| rows).

    `version=None` PINS the current committed version once and reads
    postings and meta AT THAT SNAPSHOT — two unpinned reads could
    straddle a concurrent extension's commit, scoring segment-N postings
    against segment-N+1 corpus stats (a torn read, not a wrong-row bug,
    but a reproducibility one).  Pass an older version for time-travel
    retrieval over a growing index.
    """
    # TX.py_tokens, NOT str.split(): queries must tokenize by the same
    # ASCII-whitespace rule the documents were indexed under, or a query
    # term containing e.g. U+00A0 could never match any posting
    qt_rows = sorted(
        {(int(qid), t) for qid, q in queries for t in TX.py_tokens(q)}
    )
    if not qt_rows:
        raise ValueError("bm25_lookup: queries contain no terms")
    all_terms = sorted({t for _, t in qt_rows})

    if version is None:
        version = table.version()
    tf = term_lookup(spark, table, all_terms, version=version)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = index_meta(spark, table, version=version).select(
        "n_docs", "tot_tokens"
    )
    qt = spark.createDataFrame(qt_rows, "query_id int, term string")
    return bm25_score_topk(tf, dfreq, stats, qt, k)


def maintain_term_index(spark: SparkSession, table: TransactionalTable) -> int:
    """Compact a many-segment index back to one file per shard — every
    extension leaves one file per touched shard per segment, so a
    long-lived index pays O(segments) files per term lookup until
    maintenance runs (the same forever-stream bound the streaming stores'
    `maintain()` enforces).  One replace-commit via
    `TransactionalTable.optimize`; the shard layout (and so driver-side
    pruning) survives the rewrite, and the summed per-segment meta rows
    are ordinary rows — compaction preserves them, it never merges them
    (merge stays at read, where it is exact).  Returns the published
    version."""
    return table.optimize(spark)


def phrase_lookup(
    spark: SparkSession,
    table: TransactionalTable,
    phrases: list[tuple[int, str]],
    version: int | None = None,
) -> DataFrame:
    """Index-backed positional phrase search: the same (phrase_id,
    doc_id, n_matches) answer as the scan-based
    `text_analysis.phrase_matches` (bit-identity pinned by test), fed
    from pruned posting reads — the classic positional-index phrase
    query (match count = |{p in positions(t1) : p+i in positions(t_1+i)
    for every offset i}|).

    Plan shape: ONE pruned read covers every phrase's terms (the union
    of term shards); each phrase then inner-joins its offset terms'
    postings by doc_id — docs missing any term drop before any position
    work — and the position intersect runs row-locally over the joined
    arrays.  Per-doc cost O(tf_first * phrase_len * tf_max); join fan-in
    per phrase is its term count (2-5 for real quoted queries).
    Repeated terms in a phrase reuse the same positions array with
    different offsets ("a a" matches p and p+1 in positions(a)).
    """
    # same ASCII-whitespace tokenization as the indexed documents
    ptoks = [(int(pid), TX.py_tokens(p)) for pid, p in phrases]
    if not ptoks or any(not t for _, t in ptoks):
        raise ValueError("phrase_lookup: every phrase needs >= 1 token")
    all_terms = sorted({t for _, ts in ptoks for t in ts})

    post = term_lookup(
        spark, table, all_terms, with_positions=True, version=version
    ).select("term", "doc_id", "positions")

    outs = []
    for pid, terms in ptoks:
        distinct = sorted(set(terms))
        j = None
        for d_i, t in enumerate(distinct):
            side = post.filter(F.col("term") == t).select(
                "doc_id", F.col("positions").alias(f"_pos{d_i}")
            )
            j = side if j is None else j.join(side, "doc_id")
        pos_of = {t: f"_pos{i}" for i, t in enumerate(distinct)}
        first = F.col(pos_of[terms[0]])

        # closure FACTORIES, not default-arg lambdas: pyspark's HOF
        # bridge derives the lambda's Spark arity from its Python
        # parameter count, so `lambda p, col=..., off=...` reads as a
        # 3-arg lambda and the defaults get clobbered with lambda vars.
        # F.exists (HOF), not array_contains, because the probe value
        # (p + off) is a Column, which array_contains' py4j signature
        # rejects.
        def _contains_at(col_name: str, off: int):
            def f(p):
                return F.exists(F.col(col_name), lambda q: q == p + off)

            return f

        def _both(a, b):
            def f(p):
                return a(p) & b(p)

            return f

        cond = None
        for i, t in enumerate(terms[1:], start=1):
            c = _contains_at(pos_of[t], i)
            cond = c if cond is None else _both(cond, c)
        hits = (
            F.size(F.filter(first, cond))
            if cond is not None
            else F.size(first)
        )
        outs.append(
            j.select(
                F.lit(pid).cast("int").alias("phrase_id"),
                "doc_id",
                hits.cast("int").alias("n_matches"),
            ).filter(F.col("n_matches") > 0)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Persisted IVF indexes: ANN (the embedding twin of the term index) and IVFPQ
# ---------------------------------------------------------------------------

#: centroid partition value (one row per IVF centroid — bounded by the
#: quantizer's fixed target, broadcastable at any corpus size)
ANN_CENT_SHARD = "cent"

#: PQ codebook shard (bounded: ~m * target_codes rows, fixed at creation)
PQ_CB_SHARD = "cb"

#: the IVFPQ store schema in stored order (column -> type); the ANN store
#: is the `_ANN_COLS` subset in the same order
_IVF_COLS = {
    "cent_id": "long",
    "vid": "long",
    "nv": "array<double>",
    "cv": "array<double>",
    "sub_m": "int",
    "code": "long",
    "n_vecs": "long",
    "n_shards": "long",
    "pq_m": "long",
    "dim": "long",
}
_ANN_COLS = ("cent_id", "vid", "nv", "cv", "n_vecs", "n_shards")


def _ivf_row(shard, *names, cols=tuple(_IVF_COLS), **vals):
    """One projection over an IVF store schema: `shard` plus every column
    of `cols`, typed per `_IVF_COLS` — the same-named input column for
    `names`, the given expression for `vals`, NULL otherwise.  Every row
    kind of both stores (assignment / code / centroid / codebook / meta)
    projects through here, so the single-commit frames can never drift
    schemas."""
    vals.update((c, F.col(c)) for c in names)
    return [shard.alias("shard")] + [
        vals.get(c, F.lit(None)).cast(_IVF_COLS[c]).alias(c) for c in cols
    ]


def _vshard(n_shards: int):
    return F.concat(F.lit("v"), (F.col("cent_id") % n_shards).cast("string"))


def _ann_segment_frames(
    assign: DataFrame, counted: DataFrame, n_shards: int, cents: DataFrame | None
) -> DataFrame:
    """One ANN segment as a single frame: assignment rows + this
    segment's meta row, plus the centroid rows when `cents` is given
    (creation and recluster only — extensions never add or move
    centroids)."""
    meta = counted.agg(F.count(F.lit(1)).alias("n_vecs"))
    out = assign.select(
        *_ivf_row(_vshard(n_shards), "cent_id", "vid", "nv", cols=_ANN_COLS)
    ).unionByName(
        meta.select(
            *_ivf_row(
                F.lit(META_SHARD), "n_vecs", cols=_ANN_COLS, n_shards=F.lit(n_shards)
            )
        )
    )
    if cents is not None:
        out = out.unionByName(
            cents.select(
                *_ivf_row(F.lit(ANN_CENT_SHARD), "cent_id", "cv", cols=_ANN_COLS)
            )
        )
    return out


def _ivfpq_segment_frames(
    assign: DataFrame,
    codes: DataFrame,
    n_shards: int,
    pq_m: int,
    dim: int,
    cents: DataFrame | None = None,
    cb: DataFrame | None = None,
) -> DataFrame:
    """One IVFPQ segment as a single frame — published in ONE atomic
    commit (build: CAS at version -1; extend: one append keyed by the
    caller's txn), so a reader pinned at any version sees assignments,
    codes, codebooks and centroids that agree (the two-table alternative
    would re-open the torn-read window the group-commit drains closed):

        shard = "v<cent_id % n_shards>"  assignment rows (cent_id, vid,
                                         nv) AND code rows (cent_id,
                                         vid, sub_m, code) — code rows
                                         have sub_m set, assignment
                                         rows don't; parquet column
                                         pruning means a serving read
                                         that selects only (cent_id,
                                         vid, sub_m, code) never
                                         decodes the nv bytes
        shard = "cent"                   centroid rows (creation only)
        shard = "cb"                     PQ codebook rows (creation
                                         only; bounded m*target_codes)
        shard = "m"                      meta (n_vecs, n_shards, pq_m,
                                         dim) — stored data, the
                                         term-index modulus rule
    """
    vshard = _vshard(n_shards)
    arows = assign.select(*_ivf_row(vshard, "cent_id", "vid", "nv"))
    # codes carry their cell so a probed shard read needs NO join back
    # to the assignment rows: (vid, sub_m, code) x cell membership
    crows = codes.join(assign.select("vid", "cent_id"), "vid").select(
        *_ivf_row(vshard, "cent_id", "vid", "code", sub_m=F.col("m"))
    )
    meta = assign.agg(F.count(F.lit(1)).alias("n_vecs")).select(
        *_ivf_row(
            F.lit(META_SHARD), "n_vecs", n_shards=F.lit(n_shards),
            pq_m=F.lit(pq_m), dim=F.lit(dim),
        )
    )
    out = arows.unionByName(crows).unionByName(meta)
    if cents is not None:
        out = out.unionByName(
            cents.select(*_ivf_row(F.lit(ANN_CENT_SHARD), "cent_id", "cv"))
        )
    if cb is not None:
        out = out.unionByName(
            cb.select(*_ivf_row(F.lit(PQ_CB_SHARD), "code", "cv", sub_m=F.col("m")))
        )
    return out


def _ivf_meta(rows: DataFrame, path: str) -> tuple[int, ...]:
    """(n_vecs, *creation-fixed columns) from an IVF store's meta rows:
    n_vecs SUMS the per-segment rows (the term index's merge-on-read
    algebra); every creation-fixed column the store carries (n_shards,
    plus pq_m and dim on IVFPQ) is invariant across segments by
    construction, and min==max is checked DRIVER-side (a driver lookup,
    so the check cannot be pruned away): a damaged store fails loudly
    instead of mis-routing."""
    fixed = [c for c in ("n_shards", "pq_m", "dim") if c in rows.columns]
    n_vecs, *bounds = rows.agg(
        F.sum("n_vecs"), *[agg(c) for c in fixed for agg in (F.min, F.max)]
    ).first()
    for c, lo, hi in zip(fixed, bounds[::2], bounds[1::2]):
        if lo != hi:
            raise ValueError(
                f"{path}: index meta rows disagree on {c} ({lo} != {hi}) — "
                "corrupted store"
            )
    return (int(n_vecs), *map(int, bounds[::2]))


def _ivf_generation(
    vecs: DataFrame, n: int, target_centroids: int | None, salt: str,
    refine_rounds: int,
) -> tuple[DataFrame, DataFrame]:
    """(cents, assign): a new centroid generation over `n` normalized
    (vid, nv) rows — the founding draw of both `build_*` paths and the
    fresh draw of both `maintain_*(recluster=True)` passes.  The shared
    scan-path quantizer decisions (`similarity._ivf_k`, `_ivf_draw`,
    `_ivf_assign`), then `refine_rounds` shared integer-micro Lloyd
    rounds (`similarity._lloyd_rounds`, the exact `kmeans_refine`
    iteration) when asked.  Refined centroids keep their donor's
    cent_id, so shard routing, extend and lookup are
    generation-agnostic; a centroid whose cell empties vanishes (the
    stated Lloyd degeneracy), never leaving an unprobeable stored
    cell."""
    k = _S._ivf_k(n, target_centroids)
    cents = _S._ivf_draw(vecs, n, k, salt)
    # the hash sample CAN come up empty on a small corpus (P ~ (1 -
    # 1/modulus)^n).  For the ephemeral scan path that is a visible empty
    # result; for a PERSISTED index it would be a durable footgun — the
    # generation is fixed until the next recluster, so every later lookup
    # and extension would silently return nothing.
    if cents.isEmpty():
        raise ValueError(
            f"hash-sampled zero centroids from {n} vectors — pass a larger "
            "target_centroids, or draw from more vectors"
        )
    assign = _S._ivf_assign(vecs, cents, k, salt)
    if refine_rounds > 0:
        cents, assign = _S._lloyd_rounds(assign, refine_rounds, k, salt)
    return cents, assign


def _ivf_extend(
    emb: DataFrame,
    table: TransactionalTable,
    vec_col: str,
    id_col: str,
    salt: str,
    params: tuple[int, ...] | None,
) -> tuple[int, tuple[int, ...], DataFrame]:
    """The extend core both IVF stores share: pin the table version, read
    the STORED centroids at the pin, normalize the new vectors and assign
    them with the shared one-hop / two-level argmax.  `params` is (*the
    store's creation-fixed meta columns, K); both are fixed at creation
    (the stored-modulus and fixed-generation rules), so a repeat caller —
    the streaming writer extending every block — passes back the params
    this returned instead of re-paying the meta and centroid-count jobs.
    Returns (pin, params, assign)."""
    spark = emb.sparkSession
    pin = table.version()
    cents = table.read_where(
        spark, "shard", [ANN_CENT_SHARD], version=pin
    ).select("cent_id", "cv")
    if params is None:
        meta = table.read_where(spark, "shard", [META_SHARD], version=pin)
        # K is one bounded count: the centroid table is fixed-size
        params = (*_ivf_meta(meta, table.path)[1:], cents.count())
    vecs = _S._ivf_vecs(emb, vec_col, id_col)
    return pin, params, _S._ivf_assign(vecs, cents, params[-1], salt)


def _publish_extension(
    table: TransactionalTable, seg: DataFrame, txn: str | None
) -> TransactionalTable:
    """Append one extension segment; under a `txn`, idempotently (a txn
    that already committed makes the call a no-op)."""
    if txn is None:
        table.append(seg, partition_by="shard")
    else:
        table.append_once(seg, txn=txn, partition_by="shard")
    return table


def _maintain_ivf(
    spark: SparkSession,
    table: TransactionalTable,
    recluster: bool,
    target_centroids: int | None,
    salt: str,
    refine_rounds: int,
    frames,
) -> int:
    """The maintenance pass both IVF stores share: compaction, or a
    recluster transform that reads the snapshot's meta, draws a fresh
    generation over every stored vector and hands (snap, vecs, cents,
    assign, *creation-fixed meta) to the store's `frames` builder."""
    if not recluster:
        return table.optimize(spark)

    def _recluster(snap: DataFrame) -> DataFrame:
        n_vecs, *fixed = _ivf_meta(
            snap.filter(F.col("shard") == META_SHARD), table.path
        )
        vecs = snap.filter(
            F.col("shard").startswith("v") & F.col("nv").isNotNull()
        ).select("vid", "nv")
        cents, assign = _ivf_generation(
            vecs, n_vecs, target_centroids, salt, refine_rounds
        )
        return frames(snap, vecs, cents, assign, *fixed)

    return table.optimize(spark, transform=_recluster)


def build_ann_index(
    emb: DataFrame,
    path: str,
    target_centroids: int | None = None,
    n_shards: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf:",
    corpus_count: int | None = None,
    txn: str | None = None,
    refine_rounds: int = 0,
) -> TransactionalTable:
    """Persist the IVF structure once — centroids + normalized cell
    assignments — so ANN queries against a SERVING corpus read only
    their probed cells instead of re-quantizing 100 TB per query batch.
    Same quantizer decisions as `similarity.ivf_topk`/`dedup.
    semantic_dedup` (the shared `similarity._ivf_*` helpers), so the
    stored index answers bit-identically to the scan path (test
    contract).  Grow it later with `extend_ann_index` (or continuously
    with `streaming.stateful.ann_index_stream`).

    Layout (one atomic CAS commit at version 0, build-once like the
    term index's segment 0; `txn` stamps the commit for the streaming
    twin's exactly-once replay check):

        shard = "v<cent_id % n_shards>"  assignment rows
                                         (cent_id, vid, nv)
        shard = "cent"                   centroid rows (cent_id, cv)
        shard = "m"                      one meta row PER SEGMENT
                                         (n_vecs, n_shards — summed at
                                         read like the term index's)

    Cells bucket into shards (`shards_for_store` on the corpus row
    count) so directory count stays object-store-friendly while a
    probe still reads O(nprobe) shards per query batch.  `corpus_count`
    is `emb`'s row count (it fixes the draw's modulus; without it one
    memoized count runs).  Pass `n_shards` sized for the EVENTUAL corpus
    when the index will grow — both the shard modulus and the centroid
    set are fixed at creation.

    ``refine_rounds=N``: found the index on the TRAINED quantizer
    instead of the one-shot draw — N integer-micro Lloyd rounds before
    anything is persisted, so the stored generation is bit-identical to
    the gate-attested kmeans_clusters path (see `_ivf_generation`).
    """
    table = _fresh_index(path, "ANN index", "extend_ann_index")
    n = corpus_count if corpus_count is not None else _S._memoized_count(emb)
    cents, assign = _ivf_generation(
        _S._ivf_vecs(emb, vec_col, id_col), n, target_centroids, salt,
        refine_rounds,
    )
    if n_shards is None:
        n_shards = shards_for_store(n)
    table.append(
        _ann_segment_frames(assign, emb, n_shards, cents),
        partition_by="shard",
        cas_version=-1,
        txn=txn,
    )
    return table


def ann_index_meta(
    spark: SparkSession, table: TransactionalTable, version: int | None = None
) -> tuple[int, int]:
    """(n_vecs, n_shards) corpus stats via `_ivf_meta`: n_vecs SUMS the
    per-segment meta rows; n_shards is the checked invariant."""
    return _ivf_meta(
        table.read_where(spark, "shard", [META_SHARD], version=version),
        table.path,
    )


def _ann_extension(
    emb: DataFrame,
    table: TransactionalTable,
    vec_col: str,
    id_col: str,
    salt: str,
    params: tuple[int, int] | None = None,
) -> tuple[DataFrame, tuple[int, int]]:
    """(segment, params): one unpublished ANN extension segment built by
    the shared extend core; params = (n_shards, K)."""
    _, params, assign = _ivf_extend(emb, table, vec_col, id_col, salt, params)
    return _ann_segment_frames(assign, emb, params[0], None), params


def extend_ann_index(
    emb: DataFrame,
    table: TransactionalTable,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf:",
    txn: str | None = None,
) -> TransactionalTable:
    """Append a segment of NEW vectors to an existing ANN index — the
    term index's Lucene-segment model on the embedding side: new vectors
    are assigned against the STORED centroids (read at one pinned
    version, with the stored shard modulus — the term-index
    stored-modulus rule), and the segment publishes its assignment rows
    plus its own meta row in one atomic commit (exactly once per `txn`
    when one is given).

    Contract: each vec_id appears in exactly ONE segment (append-only
    corpus; dedupe upstream).  Centroids are FIXED at creation — the
    IVF contract: extension assigns, it never re-trains, so cell
    balance (and recall) degrade as the corpus drifts from the founding
    segment's distribution.  That trade is stated, not hidden: a real
    serving pipeline reclusters (`maintain_ann_index(recluster=True)`)
    or rebuilds on a schedule, and the fixed-centroid semantics are
    exactly SQL-expressible, so the grown index stays ORACLE-exact
    (extra `ann_indexed_grown`).

    Assignment runs the shared one-hop / two-level switch
    (`similarity._ivf_assign`, bit-identical by the pinned equality
    tests); K comes from the bounded centroid table.
    """
    seg, _ = _ann_extension(emb, table, vec_col, id_col, salt)
    return _publish_extension(table, seg, txn)


def maintain_ann_index(
    spark: SparkSession,
    table: TransactionalTable,
    recluster: bool = False,
    target_centroids: int | None = None,
    salt: str = "ivf:",
    refine_rounds: int = 0,
) -> int:
    """Maintenance for a many-segment ANN index.

    ``recluster=False`` (default): compact back to one file per shard —
    `maintain_term_index`'s exact contract on the embedding side (each
    extension leaves one file per touched cell shard; pruned probe reads
    pay O(segments) files until maintenance).  Per-segment meta rows are
    ordinary rows: preserved by the rewrite, merged only at read.

    ``recluster=True``: found a NEW centroid GENERATION.
    `extend_ann_index` honestly fixes centroids at creation, so after
    heavy corpus drift cell sizes skew and probe cost degrades (a probed
    head cell rereads an ever-larger slice of the corpus).  The
    recluster pass:

    - hash-samples a fresh fixed-target centroid draw over ALL
      segments' vectors (same deterministic `h48(salt || vid) %
      (n_vecs div K)` rule as the founding draw, with n_vecs now the
      FULL corpus — so the draw stays ~K at any size and is exactly
      SQL-expressible, keeping the reclustered index ORACLE-exact,
      extra `ann_indexed_reclustered`);
    - re-assigns every stored vector against the new generation in one
      pass (the shared one-hop / two-level argmax — bit-identical
      assignment semantics to the scan quantizer);
    - publishes assignments + centroids + ONE collapsed meta row as a
      single CAS replace-commit through `TransactionalTable.optimize`'s
      OCC loop (a rival concurrent extension wins the race and the
      recluster re-derives from ITS snapshot — drift work is never
      lost, and pre-recluster versions stay time-travelable until
      vacuum, the segment model's standard trade).

    The shard modulus is preserved (stored data, unchanged), so every
    reader's routing logic survives the generation swap.  K defaults to
    isqrt(n_vecs) — the same self-tuning rule as `ivf_quantize`, now
    sized by the grown corpus instead of the founding segment.

    ``refine_rounds=N``: train the fresh draw with N shared
    integer-micro Lloyd rounds before the swap — see `build_ann_index`.
    """
    return _maintain_ivf(
        spark, table, recluster, target_centroids, salt, refine_rounds,
        lambda snap, vecs, cents, assign, n_shards: _ann_segment_frames(
            assign, vecs, n_shards, cents
        ),
    )


def ann_index_lookup(
    spark: SparkSession,
    table: TransactionalTable,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    version: int | None = None,
) -> DataFrame:
    """IVF ANN over the persisted index: probe each query's nprobe
    closest stored centroids, read ONLY the shards those cells bucket
    into (driver-side commit-log pruning; the probe-cell list is bounded
    by |queries| x nprobe, so collecting it is a bounded driver action,
    same class as broadcast planning), exact-rerank inside the probed
    cells via `similarity.ivf_probe_topk` — shared with the scan path,
    so answers are bit-identical to `ivf_topk` on the same corpus
    (pinned by test).  `version=None` pins the current committed version
    once so the meta, centroid, and assignment reads are one snapshot
    (the bm25_lookup torn-read argument)."""
    if version is None:
        version = table.version()
    # ann_index_meta, not a bare .first(): a GROWN index holds one meta
    # row per segment — n_shards is the checked invariant, never the
    # first row that happens to come back
    _, n_shards = ann_index_meta(spark, table, version=version)
    cents = table.read_where(
        spark, "shard", [ANN_CENT_SHARD], version=version
    ).select("cent_id", "cv")
    q = queries.select(
        F.col(id_col).alias("query_id"), V.normalize(vec_col).alias("qn")
    )
    # bounded driver action: the probe-cell set (|queries| x nprobe ids)
    probe_cells = [
        r["cent_id"]
        for r in _S._ivf_probes(q, cents, nprobe)
        .select("cent_id")
        .distinct()
        .collect()
    ]
    shards = sorted({f"v{c % n_shards}" for c in probe_cells})
    assign = (
        table.read_where(spark, "shard", shards, version=version)
        .filter(F.col("cent_id").isin(probe_cells))
        .select(F.col("vid").alias("neighbor_id"), "nv", "cent_id")
    )
    return _S.ivf_probe_topk(cents, assign, q, k, nprobe)


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    target_codes: int = 64,
    target_centroids: int | None = None,
    n_shards: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ivf_salt: str = "ivf:",
    pq_salt: str = "pq:",
    corpus_count: int | None = None,
    txn: str | None = None,
    refine_rounds: int = 0,
) -> TransactionalTable:
    """Persist the full IVF-PQ serving structure once — coarse
    centroids, PQ codebooks, cell assignments AND the m-code compressed
    corpus — so `ivfpq_index_lookup` reads committed codes from nprobe
    shards only, never re-running the linear encode pass the scan-path
    `similarity.ivfpq_topk` pays per invocation (at gate scale those
    one-time builds WERE the row's wall; at 100 TB they are a
    once-per-index-lifetime cost, not a per-query one).

    Same quantizer decisions (the founding generation `build_ann_index`
    draws) and encoder (`pq_codes` / `_pq_encode_sub`) as the scan
    path, by import — the stored index answers bit-identically to
    `ivfpq_topk` on the same corpus (pinned by
    tests/test_search_index.py).  Both the centroid set and the PQ
    codebooks are FIXED at creation (the extend contract); recluster
    re-founds centroids but codes are codebook-relative and survive a
    recluster untouched.  `corpus_count` and `n_shards` follow
    `build_ann_index`.

    ``refine_rounds=N``: train the COARSE quantizer with N shared
    integer-micro Lloyd rounds before founding (see `build_ann_index`).
    The PQ codebooks are trained on subvector content independent of
    cell membership, so refinement changes ONLY which cell each code
    row lives in — no re-encode, ADC distances unchanged by
    construction.
    """
    table = _fresh_index(path, "IVFPQ index", "extend_ivfpq_index")
    n = corpus_count if corpus_count is not None else _S._memoized_count(emb)
    cents, assign = _ivf_generation(
        _S._ivf_vecs(emb, vec_col, id_col), n, target_centroids, ivf_salt,
        refine_rounds,
    )
    cb, codes = _S.pq_codes(
        emb, dim, m=m, target_codes=target_codes,
        vec_col=vec_col, id_col=id_col, salt=pq_salt, corpus_count=n,
    )
    # the centroid guard's twin: an empty codebook draw would durably
    # publish an index no lookup can answer
    if cb.isEmpty():
        raise ValueError(
            "founding segment hash-sampled zero PQ codebook entries — "
            "found the index on a larger block, or pass a smaller "
            "target_codes"
        )
    if n_shards is None:
        n_shards = shards_for_store(n)
    table.append(
        _ivfpq_segment_frames(assign, codes, n_shards, m, dim, cents, cb),
        partition_by="shard",
        cas_version=-1,
        txn=txn,
    )
    return table


def ivfpq_index_meta(
    spark: SparkSession, table: TransactionalTable, version: int | None = None
) -> tuple[int, int, int, int]:
    """(n_vecs, n_shards, pq_m, dim) via `_ivf_meta`: n_vecs SUMS
    per-segment meta rows; the other three are creation-fixed
    invariants, min==max checked driver-side."""
    return _ivf_meta(
        table.read_where(spark, "shard", [META_SHARD], version=version),
        table.path,
    )


def _ivfpq_extension(
    emb: DataFrame,
    table: TransactionalTable,
    vec_col: str,
    id_col: str,
    salt: str,
    params: tuple[int, int, int, int] | None = None,
    check_duplicates: bool = False,
) -> tuple[DataFrame, tuple[int, int, int, int]]:
    """(segment, params): one unpublished IVFPQ extension segment — the
    shared extend core plus the codebook read at the same pin and the
    encode; params = (n_shards, pq_m, dim, K)."""
    spark = emb.sparkSession
    pin, params, assign = _ivf_extend(emb, table, vec_col, id_col, salt, params)
    n_shards, pq_m, dim, _ = params
    if check_duplicates:
        # index-linear semi-join (vid columns only — parquet never reads
        # the vector/code bytes); fails loudly instead of letting a
        # re-fed vid double its ADC sums at lookup time
        stored_vids = (
            table.read(spark, version=pin)
            .filter(F.col("shard").startswith("v") & F.col("sub_m").isNull())
            .select("vid")
        )
        dup = (
            _S._ivf_vecs(emb, vec_col, id_col)
            .select("vid")
            .join(stored_vids, "vid", "left_semi")
            .limit(5)
            .collect()
        )
        if dup:
            raise ValueError(
                f"{table.path}: extend_ivfpq_index fed vids already in "
                f"the index (e.g. {sorted(r['vid'] for r in dup)}) — "
                "duplicate code rows would corrupt ADC rankings"
            )
    cb = table.read_where(spark, "shard", [PQ_CB_SHARD], version=pin).select(
        F.col("sub_m").alias("m"), "code", "cv"
    )
    codes = _S.pq_encode(emb, cb, dim, pq_m, vec_col, id_col)
    return _ivfpq_segment_frames(assign, codes, n_shards, pq_m, dim), params


def extend_ivfpq_index(
    emb: DataFrame,
    table: TransactionalTable,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ivf_salt: str = "ivf:",
    txn: str | None = None,
    check_duplicates: bool = False,
) -> TransactionalTable:
    """Append a segment of NEW vectors: assign against the STORED
    centroids and encode against the STORED codebooks (both read at one
    pinned version with the stored modulus/params — nothing re-trained,
    the fixed-generation contract `extend_ann_index` states for
    centroids, extended here to the PQ codebooks), publishing
    assignment rows + code rows + the segment's meta row in ONE atomic
    commit (exactly once per `txn` when one is given).

    The NEW-vectors contract is load-bearing: a vid fed twice lands
    duplicate code rows, and `ivfpq_index_lookup`'s groupBy-sum would
    double that vid's ADC distance — a silently corrupted ranking, not
    an error.  The streaming writer's txn replay guard only
    deduplicates whole replayed BLOCKS; it cannot see a caller
    re-feeding the same vids in a fresh txn.  Pass
    ``check_duplicates=True`` to anti-join-assert the segment against
    the stored vid set before committing — one extra index-linear
    semi-join, so it is opt-in for bulk loads where the caller already
    owns the uniqueness invariant."""
    seg, _ = _ivfpq_extension(
        emb, table, vec_col, id_col, ivf_salt, check_duplicates=check_duplicates
    )
    return _publish_extension(table, seg, txn)


def maintain_ivfpq_index(
    spark: SparkSession,
    table: TransactionalTable,
    recluster: bool = False,
    target_centroids: int | None = None,
    salt: str = "ivf:",
    refine_rounds: int = 0,
) -> int:
    """`maintain_ann_index`'s contract on the IVFPQ store.

    Default: compact to one file per shard.  ``recluster=True``: found
    a new CENTROID generation from a fresh full-corpus hash draw and
    re-bucket every stored row — assignments move cells, but the PQ
    codes are CODEBOOK-relative, so each vid's (sub_m, code) rows are
    preserved verbatim and simply follow their vector into its new
    cell (no re-encode: ADC distances are unchanged by construction,
    which is what makes the reclustered index answer exactly like a
    same-generation rebuild; with ``refine_rounds=N`` they follow it
    into its refined cell).  Codebooks and dim/pq_m meta survive the
    swap; one CAS replace-commit via `TransactionalTable.optimize`."""

    def frames(snap, vecs, cents, assign, n_shards, pq_m, dim):
        old_codes = snap.filter(
            F.col("shard").startswith("v") & F.col("sub_m").isNotNull()
        ).select("vid", F.col("sub_m").alias("m"), "code")
        cb = snap.filter(F.col("shard") == PQ_CB_SHARD).select(
            F.col("sub_m").alias("m"), "code", "cv"
        )
        return _ivfpq_segment_frames(
            assign, old_codes, n_shards, pq_m, dim, cents, cb
        )

    return _maintain_ivf(
        spark, table, recluster, target_centroids, salt, refine_rounds, frames
    )


def ivfpq_index_lookup(
    spark: SparkSession,
    table: TransactionalTable,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    version: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN over the persisted index — the 100 TB serving shape:
    probe each query's nprobe stored centroids (bounded broadcast
    dots), read ONLY the shards those cells bucket into, select ONLY
    the code columns (parquet never decodes the nv bytes — the read is
    m longs per candidate, PQ's 32x scan-bytes cut, now at REST), and
    ADC-score against the query's bounded distance table.  No linear
    pass anywhere at query time; answers are bit-identical to the scan
    path `similarity.ivfpq_topk` on the same corpus (pinned by test) —
    the SHARED probe (`_ivf_probes`) and ranking (`_adc_rank_topk`).

    Assumes vids are unique across segments (the extend contract):
    duplicate code rows for a vid would double its ADC sum in the
    groupBy below and corrupt the ranking — see
    `extend_ivfpq_index(check_duplicates=True)` for the loud guard."""
    if version is None:
        version = table.version()
    _, n_shards, pq_m, dim = ivfpq_index_meta(spark, table, version=version)
    cents = table.read_where(
        spark, "shard", [ANN_CENT_SHARD], version=version
    ).select("cent_id", "cv")
    cb = table.read_where(spark, "shard", [PQ_CB_SHARD], version=version).select(
        F.col("sub_m").alias("m"), "code", "cv"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), V.normalize(vec_col).alias("qn")
    )
    # bounded driver action: the probe-cell set (<= |queries| x nprobe
    # ids), same class as ann_index_lookup's broadcast planning
    probe_rows = (
        _S._ivf_probes(q, cents, nprobe).select("query_id", "cent_id").collect()
    )
    probe_cells = sorted({r["cent_id"] for r in probe_rows})
    shards = sorted({f"v{c % n_shards}" for c in probe_cells})
    pairs = spark.createDataFrame(probe_rows, "query_id long, cent_id long")
    code_rows = (
        table.read_where(spark, "shard", shards, version=version)
        .filter(F.col("sub_m").isNotNull() & F.col("cent_id").isin(probe_cells))
        .select("cent_id", "vid", F.col("sub_m").alias("m"), "code")
    )
    qsub = _S._pq_subvectors(queries, dim, pq_m, id_col, "query_id", vec_col)
    dtable = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "code", _S._pq_dist_micro("sv", "cv").alias("pdist")
    )
    scored = (
        code_rows.join(F.broadcast(pairs), "cent_id")
        .filter(F.col("vid") != F.col("query_id"))
        .join(F.broadcast(dtable), ["query_id", "m", "code"])
        .groupBy("query_id", "vid")
        .agg(F.sum("pdist").cast("long").alias("adc"))
    )
    return _S._adc_rank_topk(scored, k)
