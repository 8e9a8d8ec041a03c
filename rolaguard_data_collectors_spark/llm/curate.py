"""Corpus curation operators a training-data run needs around the
dedup/quality stack: deterministic sampling, token-budget shard
packing, and PII redaction.

All sampling is HASH-determined, never RNG-determined: a row's fate
depends only on its key (portable md5-based h32, portable_sql.hex32),
so samples are reproducible across runs, engines (DuckDB computes the
identical sample — tests/test_curate.py proves it), cluster sizes and
partitionings — the property a 100 TB pipeline needs for resumable,
auditable subsetting. ``df.sample()`` by contrast is seed+partition
dependent and unrepeatable under repartitioning.

Shard packing is the classic two-phase distributed prefix sum:
per-bucket running token counts (one window per fixed-width hash
bucket), a buckets-sized offset table collected to the driver
(O(n_buckets) rows — the only driver data), offsets broadcast back,
shard = exclusive-cumsum // budget. Deterministic global doc order
comes from bucketing the portable hash by VALUE (h div width — never
from runtime partitioning; see pack_token_shards), so the layout is
reproducible AND shuffle-minimal: one hash exchange for the window,
no global single-reducer window (the naive ``Window.orderBy`` with no
partitionBy funnels the whole corpus through one task).

Driver-registered since round 4 (two consolidated queries below —
``curation_sample_pack`` and ``pii_redaction_profile``); the
per-operator DuckDB parity stays pinned by tests/test_curate.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..portable_sql import hex32, hex32_spark
from ..registry import QuerySpec

# Hash-fraction denominator: h32 is uniform on [0, 2^32); a row is
# sampled when h < fraction * 2^32.
_H_SPACE = 2 ** 32


def _doc_hash(key_col: str, salt: str = "") -> F.Column:
    """Portable deterministic hash of a key column (+ fixed salt so
    different sampling decisions are independent)."""
    return F.expr(hex32_spark(f"concat(cast({key_col} as string), '{salt}')"))


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                salt: str = "s1") -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose key hash
    falls under the fraction cut. Same keys in -> same sample out, on
    any engine, any partitioning, any cluster size."""
    return df.filter(_doc_hash(key_col, salt) < int(fraction * _H_SPACE))


def stratified_sample(df: DataFrame, stratum_col: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0,
                      key_col: str = "doc_id") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample boilerplate
    languages, keep all rare ones): each stratum gets its own hash
    cut. The fractions map is a literal CASE — no join, no shuffle;
    the filter pushes to the scan."""
    cut = F.lit(int(default_fraction * _H_SPACE))
    for value, frac in fractions.items():
        cut = F.when(F.col(stratum_col) == value, int(frac * _H_SPACE)).otherwise(cut)
    return df.filter(_doc_hash(key_col, "s1") < cut)


def uniform_k_per_stratum(df: DataFrame, stratum_col: str, k: int,
                          key_col: str = "doc_id") -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by hash
    order — the deterministic analog of per-group reservoir sampling.
    One shuffle on the stratum key; rank by (hash, key) so ties are
    impossible."""
    w = Window.partitionBy(stratum_col).orderBy(
        _doc_hash(key_col, "s2").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


# --- token-budget shard packing ------------------------------------------


def pack_token_shards(spark: SparkSession, sf_dir: str,
                      max_tokens: int = 20_000,
                      n_parts: int = 8) -> DataFrame:
    """Assign every document to a training shard so each shard holds a
    contiguous ~``max_tokens`` run of the (deterministically ordered)
    corpus: shard_id = exclusive-prefix-sum(tokens) // max_tokens.

    Offset-division semantics (not first-fit): a doc straddling a
    budget boundary belongs to the shard where its first token lands,
    so a shard overflows by at most one document — the standard
    deterministic spec, because first-fit's shard of doc i depends on
    every previous decision and cannot be recomputed locally.

    Two-phase prefix sum (see module docstring): bucket by an EXPLICIT
    value-derived range of the portable hash, window-cumsum inside
    each bucket, collect the tiny per-bucket totals, broadcast offsets
    back. Output: (doc_id, n_tokens, shard_id, shard-local offset).

    The bucket MUST be computed from the DATA (``h div bucket_width``),
    never taken from the runtime partitioning: an earlier version used
    ``repartitionByRange`` + ``spark_partition_id()``, and Spark's
    range-exchange boundary SAMPLING is nondeterministic across jobs —
    the totals job and the final job saw different partition
    assignments, silently skewing offsets once the corpus outgrew the
    sample (correct at <=500 docs where the sample covers everything,
    wrong at sf0.1; caught by the cross-SF oracle sweep, round 4).
    ``h`` is uniform on [0, 2^32), so fixed-width buckets are balanced
    without any sampling, and bucket value is monotone in ``h`` — the
    range property the prefix sum needs, by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket_width = -(-(2 ** 32) // n_parts)
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        _doc_hash("doc_id", "shard").alias("h"),
    )
    part = toks.withColumn("_bkt", F.expr(f"h div {bucket_width}"))
    w = Window.partitionBy("_bkt").orderBy("h", "doc_id")
    local = part.withColumn("_local_cum", F.sum("n_tokens").over(w))

    # Phase 2: per-bucket totals -> exclusive bucket offsets.
    # O(n_parts) rows on the driver; broadcast back as a literal map.
    totals = {
        r["_bkt"]: r["t"]
        for r in local.groupBy("_bkt").agg(F.max("_local_cum").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for bkt in sorted(totals):
        offsets[bkt] = acc
        # a bucket whose every doc has NULL n_tokens (NULL text) has a
        # NULL running-sum max — it contributes nothing to downstream
        # offsets, same as the oracle's NULL-skipping window sum
        # (round-7 fuzz find: the bare += crashed the build on such a
        # corpus)
        acc += totals[bkt] or 0
    # literal-map lookup, not a when()-chain: constant expression depth
    # however many buckets (a cluster run uses thousands)
    if offsets:
        pairs: list = []
        for bkt, off in offsets.items():
            pairs += [F.lit(bkt), F.lit(off)]
        off_col = F.element_at(F.create_map(*pairs), F.col("_bkt"))
    else:
        off_col = F.lit(0)

    cum = local.withColumn("_cum", F.col("_local_cum") + off_col)
    # integer `div`, not float division: the global token cumsum at
    # 100 TB exceeds 2^53, where double arithmetic drops exactness
    start = (F.col("_cum") - F.col("n_tokens")).cast("bigint")  # exclusive cumsum
    return cum.withColumn("_start", start).select(
        "doc_id",
        "n_tokens",
        F.expr(f"_start div {max_tokens}").alias("shard_id"),
        (F.col("_start") % max_tokens).alias("shard_offset"),
    )


def pack_shards_oracle_sql(max_tokens: int = 20_000) -> str:
    """The identical packing in one DuckDB window (single-node oracle;
    the Spark side exists precisely because this global-order cumsum
    is a one-reducer bottleneck at scale)."""
    h = hex32("concat(cast(doc_id as string), 'shard')")
    return f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         {h} AS h
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(start // {max_tokens} AS BIGINT) AS shard_id,
       CAST(start % {max_tokens} AS BIGINT) AS shard_offset
FROM c
"""


def pack_sequence_spans(spark: SparkSession, sf_dir: str,
                        seq_len: int = 2048,
                        max_tokens: int = 20_000,
                        n_parts: int = 8) -> DataFrame:
    """Fixed-length sequence packing on top of the shard layout: each
    document's token run [start, start+n) is exploded into the
    ``seq_len``-sized training windows it overlaps, with the in-window
    slice recorded — the (sequence_id, doc slice) table a packed
    pretraining dataloader consumes, and the boundary map an
    attention-mask builder needs.

    One JVM-side ``sequence()`` explode per doc (a doc spans
    ceil(n/seq_len)+1 windows at most, so output is O(total_tokens /
    seq_len + n_docs) — linear); no extra shuffle beyond
    pack_token_shards' range exchange. Global token offsets come from
    the same two-phase prefix sum, so windows are deterministic under
    any partitioning (tests/test_curate.py)."""
    pack = pack_token_shards(spark, sf_dir, max_tokens=max_tokens,
                             n_parts=n_parts)
    based = pack.select(
        "doc_id",
        "n_tokens",
        (F.col("shard_id") * max_tokens + F.col("shard_offset")).alias("_start"),
    )
    spans = based.select(
        "doc_id",
        "n_tokens",
        "_start",
        F.explode(
            F.sequence(
                F.expr(f"_start div {seq_len}"),
                F.expr(f"(_start + n_tokens - 1) div {seq_len}"),
            )
        ).alias("seq_id"),
    )
    win_start = F.col("seq_id") * seq_len
    return spans.select(
        "doc_id",
        "seq_id",
        F.greatest(F.col("_start"), win_start).alias("span_start"),
        (
            F.least(F.col("_start") + F.col("n_tokens"), win_start + seq_len)
            - F.greatest(F.col("_start"), win_start)
        ).alias("span_tokens"),
        (F.greatest(F.col("_start"), win_start) - F.col("_start")).alias(
            "doc_offset"
        ),
    )


def pack_sequence_spans_oracle_sql(seq_len: int = 2048,
                                   max_tokens: int = 20_000) -> str:
    return f"""
WITH pack AS ({pack_shards_oracle_sql(max_tokens)}),
spans AS (
  SELECT doc_id, n_tokens,
         shard_id * {max_tokens} + shard_offset AS s,
         unnest(generate_series(
             (shard_id * {max_tokens} + shard_offset) // {seq_len},
             (shard_id * {max_tokens} + shard_offset + n_tokens - 1) // {seq_len}
         )) AS seq_id
  FROM pack
)
SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(s, seq_id * {seq_len}) AS BIGINT) AS span_start,
       CAST(least(s + n_tokens, seq_id * {seq_len} + {seq_len})
            - greatest(s, seq_id * {seq_len}) AS BIGINT) AS span_tokens,
       CAST(greatest(s, seq_id * {seq_len}) - s AS BIGINT) AS doc_offset
FROM spans
"""


# --- PII redaction --------------------------------------------------------

# Deliberately simple, auditable patterns (emails, E.164-ish and
# US-formatted phones, IPv4) — the curation-pass hygiene filter, not a
# compliance system. All JVM-side regexp_replace: no UDFs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(\+\d{1,3}[ -]?)?(\(\d{3}\)[ -]?|\d{3}[ -])\d{3}[ -]?\d{4}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
}


def redact_pii(col: str = "text") -> F.Column:
    """text with every PII match replaced by its <TYPE> tag."""
    out = F.col(col)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII hit counts + the redacted text — what a curation
    pass writes next to (or instead of) the raw column."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # F.regexp_extract_all with a lit() pattern, NOT an F.expr SQL
    # string: SQL literal parsing consumes regex backslashes.
    cols = [
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    return docs.select("doc_id", *cols, redact_pii("text").alias("redacted_text"))


# --- driver-registered consolidated queries -------------------------------

_SAMPLE_FRAC = 0.3
_STRATA = {"en": 0.5, "de": 0.1}
_K_PER_LANG = 7
_PACK_TOKENS = 20_000


def curation_sample_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four sampling/packing operators as ONE per-doc curation
    plan row: shard assignment from the two-phase prefix sum
    (``pack_token_shards``), plus the three deterministic sampling
    decisions as boolean/rank columns (``hash_sample``,
    ``stratified_sample``, ``uniform_k_per_stratum``). One extra
    co-partitioned equi-join on doc_id to attach the flags; every
    decision is hash-determined, so the whole row is reproducible on
    any engine or partitioning.

    Round 6 folds the DSIR importance-resampling columns (llm/dsir.py:
    hashed-bigram target/raw models, per-doc log importance weight,
    corpus rank, top-K selection) into the same per-doc row — the
    registry's tagged-column consolidation pattern (50-slot window),
    one more co-partitioned doc_id equi-join."""
    from . import dsir as _dsir

    pack = pack_token_shards(spark, sf_dir, max_tokens=_PACK_TOKENS)
    docs = load_table(spark, sf_dir, "documents")
    cut = F.lit(0)
    for lang, frac in _STRATA.items():
        cut = F.when(F.col("lang") == lang, int(frac * _H_SPACE)).otherwise(cut)
    wk = Window.partitionBy("lang").orderBy(
        _doc_hash("doc_id", "s2").asc(), F.col("doc_id").asc()
    )
    # Leakage-safe train/val/test split (round 5): the split hash is
    # keyed on md5(text) — the exact-dup GROUP key — not the doc_id,
    # so every copy of a duplicated document lands in the SAME split
    # (GroupShuffleSplit semantics; doc-keyed splits leak dup content
    # from train into eval). 90/5/5 by hash thresholds, deterministic
    # under any partitioning.
    # coalesce the NULL-text key explicitly (round-7 fuzz find): Spark
    # concat NULL-propagates while DuckDB concat skips NULLs, so a bare
    # concat(md5(text), ...) silently sends NULL-text docs to 'test' on
    # one engine and a hashed split on the other.
    split_h = F.expr(hex32_spark("concat(coalesce(md5(text), ''), 'split')"))
    split = (
        F.when(split_h < int(0.90 * _H_SPACE), "train")
        .when(split_h < int(0.95 * _H_SPACE), "val")
        .otherwise("test")
    )
    flags = docs.select(
        "doc_id",
        "lang",
        (_doc_hash("doc_id", "s1") < int(_SAMPLE_FRAC * _H_SPACE)).alias("in_sample"),
        (_doc_hash("doc_id", "s1") < cut).alias("in_stratified"),
        (F.row_number().over(wk) <= _K_PER_LANG).alias("in_k_per_lang"),
        split.alias("split"),
    )
    dsir_cols = _dsir.dsir_importance(spark, sf_dir).select(
        "doc_id",
        F.col("n_bigrams").alias("dsir_ngrams"),
        "dsir_logw",
        F.col("rank").alias("dsir_rank"),
        F.col("selected").alias("dsir_selected"),
    )
    return pack.join(flags, "doc_id").join(dsir_cols, "doc_id")


def _dsir_oracle_sql() -> str:
    from . import dsir as _dsir

    return _dsir.DSIR_ORACLE


def _sample_pack_oracle_sql() -> str:
    h1 = hex32("concat(cast(doc_id as string), 's1')")
    h2 = hex32("concat(cast(doc_id as string), 's2')")
    hsplit = hex32("concat(coalesce(md5(text), ''), 'split')")
    case = " ".join(
        f"WHEN lang = '{lang}' THEN {int(frac * _H_SPACE)}"
        for lang, frac in _STRATA.items()
    )
    return f"""
WITH pack AS ({pack_shards_oracle_sql(_PACK_TOKENS)}),
flags AS (
  SELECT doc_id, lang,
         {h1} < {int(_SAMPLE_FRAC * _H_SPACE)} AS in_sample,
         {h1} < (CASE {case} ELSE 0 END) AS in_stratified,
         row_number() OVER (PARTITION BY lang ORDER BY {h2}, doc_id)
             <= {_K_PER_LANG} AS in_k_per_lang
  FROM documents
), splits AS (
  SELECT doc_id,
         CASE WHEN {hsplit} < {int(0.90 * _H_SPACE)} THEN 'train'
              WHEN {hsplit} < {int(0.95 * _H_SPACE)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT p.doc_id, p.n_tokens, p.shard_id, p.shard_offset,
       f.lang, f.in_sample, f.in_stratified, f.in_k_per_lang,
       s.split,
       d.n_bigrams AS dsir_ngrams, d.dsir_logw,
       d.rank AS dsir_rank, d.selected AS dsir_selected
FROM pack p JOIN flags f USING (doc_id) JOIN splits s USING (doc_id)
JOIN ({_dsir_oracle_sql()}) d USING (doc_id)
"""


def pii_redaction_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered shape of ``pii_profile`` (counts + redacted
    text, all JVM-side regexp)."""
    return pii_profile(spark, sf_dir)


def _pii_oracle_sql() -> str:
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    return f"SELECT doc_id, {counts}, {red} AS redacted_text FROM documents"


# --- RAG chunking ---------------------------------------------------------

CHUNK_CHARS = 256
CHUNK_OVERLAP = 64


def chunk_documents(spark: SparkSession, sf_dir: str,
                    chunk_chars: int = CHUNK_CHARS,
                    overlap: int = CHUNK_OVERLAP) -> DataFrame:
    """Overlapping character-window chunking — the retrieval/RAG twin
    of ``pack_sequence_spans``: chunk i covers ``[i*stride, i*stride +
    chunk_chars)`` with ``stride = chunk_chars - overlap``, so
    consecutive chunks share ``overlap`` chars of context. Emits the
    chunk table an embedding/indexing stage consumes: offsets, length,
    and the chunk-content md5 (the chunk-level dedup/cache key).

    All JVM-side: one ``sequence()`` explode + ``substring`` per doc —
    output is O(total_chars / stride), linear, no shuffle at all (a
    narrow map over the corpus scan; embedding the chunks downstream
    is where the real cost lives at 100 TB, not here)."""
    stride = chunk_chars - overlap
    docs = load_table(spark, sf_dir, "documents")
    n_chunks_m1 = F.expr(
        f"greatest(cast(ceil((length(text) - {chunk_chars}) / {stride}.0)"
        " as bigint), 0)"
    )
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks_m1)).alias(
            "chunk_id"
        ),
    )
    chunk_text = F.expr(f"substring(text, chunk_id * {stride} + 1, {chunk_chars})")
    return chunks.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * stride).alias("chunk_start"),
        F.length(chunk_text).alias("chunk_len"),
        F.md5(chunk_text).alias("chunk_md5"),
    )


def chunk_documents_oracle_sql(chunk_chars: int = CHUNK_CHARS,
                               overlap: int = CHUNK_OVERLAP) -> str:
    stride = chunk_chars - overlap
    return f"""
WITH c AS (
  SELECT doc_id, text,
         unnest(generate_series(0,
             greatest(CAST(ceil((length(text) - {chunk_chars}) / {stride}.0)
                      AS BIGINT), 0))) AS chunk_id
  FROM documents
)
SELECT doc_id, chunk_id,
       chunk_id * {stride} AS chunk_start,
       CAST(length(substr(text, CAST(chunk_id * {stride} + 1 AS INTEGER),
                          {chunk_chars})) AS INTEGER) AS chunk_len,
       md5(substr(text, CAST(chunk_id * {stride} + 1 AS INTEGER),
                  {chunk_chars})) AS chunk_md5
FROM c
"""


def pack_and_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slot for the two span tables as a tagged union: the
    packed-pretraining window slices (``leg='pack'``) and the RAG
    chunk table (``leg='chunk'``; span_start/span_len are char
    offsets there, and chunk_md5 carries the content key)."""
    pack = pack_sequence_spans(spark, sf_dir).select(
        F.lit("pack").alias("leg"),
        "doc_id",
        F.col("seq_id").alias("span_id"),
        F.col("span_start"),
        F.col("span_tokens").alias("span_len"),
        "doc_offset",
        F.lit(None).cast("string").alias("chunk_md5"),
    )
    chunk = chunk_documents(spark, sf_dir).select(
        F.lit("chunk").alias("leg"),
        "doc_id",
        F.col("chunk_id").alias("span_id"),
        F.col("chunk_start").alias("span_start"),
        F.col("chunk_len").cast("long").alias("span_len"),
        F.lit(None).cast("long").alias("doc_offset"),
        "chunk_md5",
    )
    return pack.unionByName(chunk)


def pack_and_chunk_oracle_sql() -> str:
    return f"""
SELECT 'pack' AS leg, doc_id, seq_id AS span_id, span_start,
       span_tokens AS span_len, doc_offset,
       CAST(NULL AS VARCHAR) AS chunk_md5
FROM ({pack_sequence_spans_oracle_sql()})
UNION ALL
SELECT 'chunk' AS leg, doc_id, chunk_id AS span_id,
       chunk_start AS span_start, CAST(chunk_len AS BIGINT) AS span_len,
       CAST(NULL AS BIGINT) AS doc_offset, chunk_md5
FROM ({chunk_documents_oracle_sql()})
"""


QUERIES = [
    QuerySpec("curation_sample_pack", curation_sample_pack,
              _sample_pack_oracle_sql(),
              "hash/stratified/k-per-stratum sampling + token-shard packing"),
    QuerySpec("pack_sequence_spans", pack_and_chunk,
              pack_and_chunk_oracle_sql(),
              "fixed-length sequence packing + overlapping RAG chunk "
              "table (tagged union of the two span tables)"),
    QuerySpec("pii_redaction_profile", pii_redaction_profile,
              _pii_oracle_sql(),
              "per-doc PII hit counts + redacted text"),
]
