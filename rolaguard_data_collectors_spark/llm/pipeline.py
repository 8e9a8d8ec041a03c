"""End-to-end corpus cleaning: the composition a training-data run
actually executes, built from the already-oracle-checked stages.

    raw documents
      -> exact dedup        (md5 groupBy, min-doc_id survivor)
      -> near-dup removal   (MinHash/LSH representative-verified
                             Jaccard drop list, llm/dedup.py)
      -> quality gate       (C4-style heuristic column filter)
      -> retained corpus

Every stage is a DataFrame-to-DataFrame transform, so the whole clean
is ONE lazy plan: semi/anti joins on doc_id (shuffle-partitioned by
the same key end to end) plus narrow column filters. Nothing here
collects to the driver, and each stage's semantics are individually
driver-verified via its registry query — this module only adds the
composition.

Recompute audit (round 4, sf0.1): the composition runs in ~1.0x the
sum of its component queries (2.5 s vs 0.74 + 1.78 s) — each stage's
subplan evaluates exactly once; there is no shared-subplan recompute
to cache away. The plan does scan ``documents`` five times (base +
exact-dedup leg + three pruned scans inside the near-dup leg); at
cluster scale those are parallel columnar scans of the two needed
columns, which is the standard declarative trade — cheaper than
persisting a 100 TB table. A run that ALSO executes the standalone
audit queries in the same session can ``persist()`` the tokenized
frame and pass it through; we deliberately do not persist inside
registry builders (the driver calls them in isolation and nothing
would unpersist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QuerySpec
from .dedup import NGRAM_JACCARD_ORACLE, dedup_exact_survivors, ngram_jaccard_dedup
from .text import STOPWORDS, _docs, _round6, _sql_round6


def quality_keep(text_col: str = "text"):
    """The C4-style quality keep-gate as a reusable boolean Column over
    a raw text column — the same expression as ``text_profile``'s
    ``keep`` (llm/text.py), so the composed pipeline and the registry
    query can never diverge."""
    toks = F.split(F.col(text_col), " ")
    n_toks = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    mean_wlen = (F.length(text_col) - (n_toks - 1)) / n_toks
    score = F.when(n_toks < 5, 0.0).otherwise(
        _round6(
            0.5 * F.least(n_toks / 100.0, F.lit(1.0))
            + 0.3 * (stop_hits / n_toks)
            + 0.2 * F.least(mean_wlen / 10.0, F.lit(1.0))
        )
    )
    return score >= 0.2


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained documents after exact dedup, near-dup removal, and the
    quality gate. Returns the full document rows of the survivors."""
    docs = _docs(spark, sf_dir)
    exact_keep = dedup_exact_survivors(spark, sf_dir).select("doc_id")
    near_dup_drop = ngram_jaccard_dedup(spark, sf_dir).select("doc_id")
    return (
        docs.join(exact_keep, "doc_id", "left_semi")
        .join(near_dup_drop, "doc_id", "left_anti")
        .filter(quality_keep("text"))
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)
_SCORE_TERMS = (
    "0.5 * least(n_tokens / 100.0, 1.0)"
    " + 0.3 * (stopword_hits / CAST(n_tokens AS DOUBLE))"
    " + 0.2 * least(((length(text) - (n_tokens - 1)) / n_tokens) / 10.0, 1.0)"
)
CLEAN_CORPUS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_IN}))) AS stopword_hits
  FROM documents
), keepers AS (
  SELECT doc_id FROM t
  WHERE (CASE WHEN n_tokens < 5 THEN 0.0
              ELSE {_sql_round6(_SCORE_TERMS)} END) >= 0.2
)
SELECT d.* FROM documents d
JOIN keepers USING (doc_id)
WHERE d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
  AND d.doc_id NOT IN (SELECT doc_id FROM ({NGRAM_JACCARD_ORACLE}))
"""


def clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of per-stage retention counts — the run report a corpus
    job publishes next to its output."""
    docs = _docs(spark, sf_dir)
    exact_keep = dedup_exact_survivors(spark, sf_dir).select("doc_id")
    near_dup_drop = ngram_jaccard_dedup(spark, sf_dir).select("doc_id")
    after_exact = docs.join(exact_keep, "doc_id", "left_semi")
    after_near = after_exact.join(near_dup_drop, "doc_id", "left_anti")
    retained = after_near.filter(quality_keep("text"))
    counts = [
        docs.select(F.count("*").alias("n_raw")),
        after_exact.select(F.count("*").alias("n_after_exact_dedup")),
        after_near.select(F.count("*").alias("n_after_near_dup")),
        retained.select(F.count("*").alias("n_retained")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


def clean_corpus_semantic(spark: SparkSession, sf_dir: str,
                          centroids: list[list[float]],
                          threshold: float = 0.4,
                          cluster_cap: int | None = None) -> DataFrame:
    """The full modern-pipeline composition: the text-level clean
    (exact dedup -> near-dup removal -> quality gate) followed by a
    SemDeDup stage over the 1:1 embeddings table (vec_id == doc_id in
    the lake layout). A document DROPPED by cluster-blocked semantic
    dedup (llm/kmeans.semantic_dedup) leaves the corpus; a document
    with NO usable embedding (NULL or corrupt — finite_embeddings)
    cannot be semantically deduped and is KEPT — an embedder failure
    must not silently delete data. Still one lazy plan end to end."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .kmeans import DEFAULT_CLUSTER_CAP, semantic_dedup
    from .similarity import finite_embeddings

    base = clean_corpus(spark, sf_dir)
    valid = (
        finite_embeddings(load_table(spark, sf_dir, "embeddings"))
        .where(F.col("embedding").isNotNull())
        .select("vec_id")
    )
    survivors = semantic_dedup(
        spark, sf_dir, centroids, threshold,
        cluster_cap=cluster_cap or DEFAULT_CLUSTER_CAP,
    ).select("vec_id")
    dropped = valid.join(survivors, "vec_id", "left_anti").select(
        F.col("vec_id").alias("doc_id")
    )
    return base.join(dropped, "doc_id", "left_anti")


def _semantic_wrap_oracle(sem: str) -> str:
    """The registered clean oracle minus the ids a SemDeDup oracle run
    dropped (keep-if-unembeddable: only vectors that EXIST and are
    finite can drop their document)."""
    from .similarity import FINITE_EMB_CTE

    return f"""
SELECT c.* FROM ({CLEAN_CORPUS_ORACLE}) c
WHERE c.doc_id NOT IN (
  WITH {FINITE_EMB_CTE}
  SELECT vec_id FROM embeddings
  WHERE embedding IS NOT NULL
    AND vec_id NOT IN (SELECT vec_id FROM ({sem}))
)
"""


def clean_corpus_semantic_oracle_sql(centroids: list[list[float]],
                                     threshold: float = 0.4,
                                     cluster_cap: int | None = None) -> str:
    """DuckDB twin of clean_corpus_semantic for an explicit codebook."""
    from .kmeans import DEFAULT_CLUSTER_CAP, semantic_dedup_oracle_sql

    return _semantic_wrap_oracle(semantic_dedup_oracle_sql(
        centroids, threshold, cluster_cap or DEFAULT_CLUSTER_CAP
    ))


# --- driver registration: the seed-codebook composition --------------------
#
# The registered query uses seed_codebook (the k hash-smallest
# embeddings, llm/kmeans.py) instead of Lloyd-trained centroids: the
# codebook is then SQL-derivable, so the oracle is fully static — no
# data-dependent literals — and the whole SemDeDup stage becomes
# driver-hash-checkable. Trained-codebook runs stay available via the
# explicit-centroids functions above (pytest-oracled in
# tests/test_parity_fuzz.py). Blocking quality differs (seeds are
# spread uniformly by the hash rather than fitted), but every scale
# and correctness property — cluster blocking, shard cap, survivor
# rule — is identical code.
SEMANTIC_SEED_K = 8
SEMANTIC_THRESHOLD = 0.4

# Seed-codebook memo (content-keyed like the op-46 frame sample,
# functions/lorawan_queries.py): plan tests and bench build registered
# queries repeatedly; the k x dim collect must not re-run per build.
_SEED_CODEBOOK_MEMO: dict = {}


def _seed_codebook_memo(spark: SparkSession, sf_dir: str, k: int) -> list[list[float]]:
    from ..catalog import content_identity, load_table
    from .kmeans import seed_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    key = (content_identity(sf_dir, emb), k)
    if key not in _SEED_CODEBOOK_MEMO:
        _SEED_CODEBOOK_MEMO[key] = seed_codebook(spark, sf_dir, k)
    return _SEED_CODEBOOK_MEMO[key]


def clean_corpus_semantic_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered build: seed codebook -> full semantic clean."""
    cb = _seed_codebook_memo(spark, sf_dir, SEMANTIC_SEED_K)
    return clean_corpus_semantic(spark, sf_dir, cb,
                                 threshold=SEMANTIC_THRESHOLD)


def _clean_corpus_semantic_static_oracle() -> str:
    from .kmeans import semantic_seed_dedup_oracle_sql

    return _semantic_wrap_oracle(semantic_seed_dedup_oracle_sql(
        SEMANTIC_SEED_K, SEMANTIC_THRESHOLD
    ))


CLEAN_CORPUS_SEMANTIC_ORACLE = _clean_corpus_semantic_static_oracle()

# The text-only composition stays available (and fuzz-oracled) as a
# building block; the registered slot carries the strict superset.
CLEAN_CORPUS_SPEC = QuerySpec(
    "clean_corpus",
    clean_corpus,
    CLEAN_CORPUS_ORACLE,
    "composed exact-dedup -> near-dup removal -> quality gate",
)

QUERIES = [
    QuerySpec(
        "clean_corpus_semantic",
        clean_corpus_semantic_seeded,
        CLEAN_CORPUS_SEMANTIC_ORACLE,
        "composed exact-dedup -> near-dup removal -> quality gate "
        "-> cluster-blocked SemDeDup (seed codebook, shard-capped)",
    ),
]
