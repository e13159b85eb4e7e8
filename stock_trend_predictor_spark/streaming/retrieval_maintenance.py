"""Continuously maintained retrieval index on the idempotent state
store — the streaming twin of the BM25 path (``bm25_doc_search`` +
``inverted_index_postings``), extending the maintained-curation family
to the RETRIEVAL tier: a live corpus must stay searchable without
re-tokenizing yesterday's documents per batch or per query.

Unlike the dedup/graph folds, this fold is PURELY ADDITIVE — no
merges, no revisions: a document's postings never change after
arrival (each doc arrives exactly once, the family precondition), a
term's document frequency is a sum of per-batch increments, and the
corpus stats (N, total token length) are one delta row per batch. The
folded index is therefore trivially a pure function of the arrival
set, and the registry query (``bm25_incremental``) shares
``bm25_doc_search``'s full DuckDB oracle VERBATIM.

State = three APPEND tables (operators/statestore.py):

- ``postings`` (token, doc_id, tf, tbucket) — the inverted index,
  hash-bucketed on ``tbucket = pmod(xxhash64(token), P)``: per-batch
  deltas land plain (LSM hot writes), compaction rewrites
  directory-partitioned on ``tbucket``, and a QUERY-TIME read prunes
  to the QUERY TERMS' buckets — the sharded-search-index access
  pattern (a 4-term query against a 10^9-term index reads <= 4
  bucket directories, never the vocabulary);
- ``docstats`` (doc_id, dl, dbucket) — per-document token length,
  needed because BM25 scores EVERY document (zero-match docs score 0
  but still rank); bucketed for by-doc point lookups;
- ``stats`` (n_delta, dl_delta) — ONE row per batch; the corpus
  N / avgdl read is a sum over batch-count rows. Integer-additive,
  so avgdl == the one-shot's avg(dl) exactly (sum of per-batch
  bigint sums / total count — no float accumulation order).

The tables, their bucket columns, the format stamp and the pin are
declared once, in :data:`RETRIEVAL_LAYOUT` (operators/statestore.py,
fold layouts).

Per batch (update_retrieval_state): tokenize the batch once,
aggregate (token, doc_id) term frequencies, append all three deltas
in one atomic META-swap commit. Replayed batch ids skip before any
compute.

Query-time read (read_bm25_search): corpus stats from the tiny stats
table; df + per-doc tf for the query terms from the PRUNED postings
read; candidate docs join their term tfs and score with the exact
bm25_doc_search expression (k1=1.2, b=0.75, non-negative idf);
top-20 on the pre-rounded score with doc_id tiebreak. Per-query read
IO = (query's term buckets) + (the candidate docs' dbuckets) — the
docstats read prunes to the candidates' bucket set whenever >= top_k
docs match (then every top-k score is positive and zero-match docs
cannot rank; see read_bm25_search for the exactness argument), so
neither side of the read is corpus-proportional at scale.

Laws in tests/test_round8.py: stream == batch (== bm25_doc_search) on
mod-3 and front/back splits with pruning forced, replay idempotence,
query-time pruned-read filter capture, per-commit write IO
batch-bounded, rebucket identity, and the format guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.statestore import (
    PRUNE_MIN_BYTES,
    FoldLayout,
    _state_bytes,
    begin_fold,
    bucket_filter,
    check_fold_format,
    commit_fold,
    pinned_bucket_count,
    read_meta,
    read_state_table,
    rebucket_fold,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

#: default on-disk hash-bucket count (postings on token, docstats on
#: doc) — pinned per fold in META's app dict; grow via
#: :func:`rebucket_retrieval_state`.
N_INDEX_BUCKETS = 64

#: BM25 constants — bm25_doc_search's (k1, b).
K1 = 1.2
B = 0.75


#: the fold's on-disk layout (module docstring).
RETRIEVAL_LAYOUT = FoldLayout(
    name="retrieval",
    tables={
        "postings": ("tbucket", ("token",)),
        "docstats": ("dbucket", ("doc_id",)),
        "stats": None,
    },
    format_key="retrieval_format",
    version=1,
    p_key="n_index_buckets",
    p_default=N_INDEX_BUCKETS,
)


def update_retrieval_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: int,
    n_buckets: int = N_INDEX_BUCKETS,
    compact_every: int | None = None,
) -> None:
    """Fold one arrival batch of (doc_id, text) documents into the
    maintained index. Idempotent: replayed batch ids skip before any
    compute. PRECONDITION (the fold-family contract): each doc_id
    arrives in exactly one batch — re-crawls dedupe upstream."""
    entry = begin_fold(RETRIEVAL_LAYOUT, state_dir, batch_id, n_buckets)
    if entry is None:
        return
    _, p = entry
    # tokenize ONCE; postings + docstats + the stats delta all derive
    # from it (eager so the explode never reruns)
    toks = (
        batch.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .localCheckpoint(eager=True)
    )
    postings = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    docstats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("dl")
    )
    stats = docstats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_delta"),
        F.sum("dl").cast("bigint").alias("dl_delta"),
    )
    commit_fold(
        spark,
        RETRIEVAL_LAYOUT,
        state_dir,
        batch_id,
        {
            "postings": RETRIEVAL_LAYOUT.with_bucket("postings", postings, p),
            "docstats": RETRIEVAL_LAYOUT.with_bucket("docstats", docstats, p),
            "stats": stats,
        },
        p,
        compact_every,
    )
    # the commit materialized all three deltas — free the tokenize
    # checkpoint so a continuous sink's storage stays batch-bounded
    from stock_trend_predictor_spark.operators.checkpoints import (
        release_local_checkpoints,
    )

    release_local_checkpoints(toks)


def rebucket_retrieval_state(
    spark: SparkSession, state_dir: str, new_p: int
) -> bool:
    """Grow (or shrink) the fold's pinned bucket count
    (statestore.rebucket_fold): postings and docstats rewrite under
    the new P and ``n_index_buckets`` re-pins in ONE atomic META
    swap."""
    return rebucket_fold(spark, RETRIEVAL_LAYOUT, state_dir, new_p)


def read_bm25_search(
    spark: SparkSession,
    state_dir: str,
    terms: tuple[str, ...],
    top_k: int = 20,
    prune_min_bytes: int = PRUNE_MIN_BYTES,
) -> DataFrame | None:
    """BM25 top-``top_k`` over every folded document for ``terms`` —
    bm25_doc_search's exact output contract (doc_id, dl, tf_<term>...,
    bm25 pre-rounded with doc_id tiebreak). The postings read PRUNES
    to the query terms' buckets past the adaptive threshold (every
    posting row of a term shares its tbucket, so the prune is exact).
    The docstats read prunes to the CANDIDATE DOCS' dbuckets (a <= P
    driver set derived from the pruned postings) — exact whenever at
    least ``top_k`` docs match the query, because idf > 0 makes every
    match score positive while zero-match docs score exactly 0, so the
    whole top-k lies inside the match set; with fewer matches the
    zero-score tail (doc_id ascending) needs corpus-wide docstats and
    the read falls back to the full scan (tiny corpora only — at
    10^11 docs any real query matches >> top_k). None before the
    first commit."""
    meta = read_meta(state_dir)
    check_fold_format(RETRIEVAL_LAYOUT, meta)
    if meta is None:
        return None
    p = pinned_bucket_count(RETRIEVAL_LAYOUT, meta)
    # one tiny driver job for ALL query terms (xxhash64 is JVM-side,
    # so the bucket ids come from a |terms|-row frame)
    t_filter = bucket_filter(
        RETRIEVAL_LAYOUT, "postings", p,
        spark.createDataFrame([(t,) for t in terms], "token string"),
        state_dir, meta, prune_min_bytes,
    )
    postings = read_state_table(
        spark, state_dir, "postings", partition_filter=t_filter
    )
    stats_rows = read_state_table(spark, state_dir, "stats")
    if postings is None or stats_rows is None:
        return None
    hits = postings.where(F.col("token").isin(list(terms)))
    if _state_bytes(state_dir, meta, "docstats") >= prune_min_bytes:
        # ONE tiny driver job over the already-pruned hits: the
        # candidate docs' bucket set (<= p values) plus the match
        # count that decides whether dropping zero-match docs is
        # exact (docstring) — never a doc-id-sized collect
        row = hits.agg(
            F.countDistinct("doc_id").alias("n"),
            F.collect_set(RETRIEVAL_LAYOUT.bucket("docstats", p)).alias("bs"),
        ).collect()[0]
        d_filter = (
            {"dbucket": sorted(row["bs"])}
            if row["n"] >= int(top_k)
            else None
        )
    else:
        d_filter = None
    docstats = read_state_table(
        spark, state_dir, "docstats", partition_filter=d_filter
    )
    if docstats is None:
        return None
    # per-doc tf pivot (fixed term set -> conditional agg, one pass)
    tfs = hits.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("token") == t, F.col("tf"))),
                F.lit(0),
            )
            .cast("int")
            .alias(f"tf_{t}")
            for t in terms
        ]
    )
    # corpus + per-term stats collapse to ONE broadcast row
    dfs = hits.groupBy().agg(
        *[
            F.sum((F.col("token") == t).cast("long")).alias(f"df_{t}")
            for t in terms
        ]
    )
    corpus = stats_rows.agg(
        F.sum("n_delta").alias("n_docs"),
        (
            F.sum("dl_delta").cast("double")
            / F.sum("n_delta").cast("double")
        ).alias("avgdl"),
    )
    stats = corpus.crossJoin(dfs).select(
        "n_docs",
        "avgdl",
        *[F.coalesce(f"df_{t}", F.lit(0)).alias(f"df_{t}") for t in terms],
    )
    per_doc = docstats.select("doc_id", "dl").join(tfs, "doc_id", "left")
    per_doc = per_doc.select(
        "doc_id",
        "dl",
        *[
            F.coalesce(f"tf_{t}", F.lit(0)).cast("int").alias(f"tf_{t}")
            for t in terms
        ],
    )
    from stock_trend_predictor_spark.functions.exact import stable_round

    score = None
    for t in terms:
        tf = F.col(f"tf_{t}")
        df = F.col(f"df_{t}")
        idf = F.log(
            (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
            + F.lit(1.0)
        )
        norm = tf + F.lit(K1) * (
            F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")
        )
        term = idf * (tf * F.lit(K1 + 1.0)) / norm
        score = term if score is None else score + term
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in terms],
            stable_round(score, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top_k)
    )


def retrieval_maintenance_sink(
    doc_stream: DataFrame, state_dir: str, checkpoint: str
):
    """Continuous index maintenance over a document stream carrying
    (doc_id, text)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_retrieval_state(
            batch.sparkSession, batch, state_dir, batch_id=batch_id
        )

    return start_foreach_batch(doc_stream, write_batch, checkpoint)
