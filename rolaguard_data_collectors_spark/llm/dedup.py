"""Deduplication operators: exact (hash groupBy), blocked n-gram
Jaccard near-dup, MinHash signatures + LSH band bucketing, SimHash.

Design for 100 TB:
- exact dedup is one hash shuffle on md5(text) with map-side partial
  aggregation;
- near-dup NEVER does an unblocked cross join — and never an
  emit-all-pairs join either (quadratic in its own output on a
  dup-heavy corpus): candidates come from LSH band buckets and exact
  verification runs only doc-vs-bucket-representative, O(N) verifies;
- all hashes use the portable md5-based h32 (portable_sql) so every
  signature and bucket is bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import content_identity, load_table, spread
from ..portable_sql import HASH_PRIME, hex32, minhash_term
from ..registry import QuerySpec
from . import incremental

# (a_i, b_i) parameters of the minhash family — fixed, public-knowledge
# construction h_i(x) = (a_i*h(x) + b_i) mod P over a base 32-bit hash.
MINHASH_PARAMS = [
    (1299721, 104729), (15485863, 32452843), (49979687, 67867967),
    (86028121, 472882027), (295075147, 533000389), (613651349, 715225739),
    (797003413, 899809343), (961748927, 982451653),
]
BANDS = 4  # 8 hashes -> 4 bands of 2 rows each


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents"))


# --- exact dedup ---------------------------------------------------------


def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: first doc_id per content hash.

    Plain load, not the spread() loader: md5+groupBy aggregates
    immediately and the agg exchange already redistributes (measured
    0.57 vs 0.19 s at sf0.1 with the redundant pre-agg exchange).
    spread() stays on the explode-heavy subplans (minhash/simhash/
    shingles) where the pre-shuffle per-row work is the bottleneck."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_hash")
    )


# Per-session memo of the history-half bloom: in steady state the
# filter is a PERSISTED lake artifact (IngestDedupSink OR-updates it
# per accepted batch) — rebuilding it on every query invocation would
# misrepresent the operator's cost, and repeat three driver jobs per
# bench run. Keyed on CONTENT identity (input files + mtimes, like
# spread()'s memo), not the directory path alone: a dataset
# regenerated in-place must invalidate the memo, or the stale filter
# undershoots the new history and silently emits duplicates — the
# false-negative state this module forbids.
_HISTORY_BLOOM_CACHE: dict[tuple, tuple[bytes, int, int]] = {}


def _history_bloom(sf_dir: str, history: DataFrame) -> tuple[bytes, int, int]:
    key = content_identity(sf_dir, history)
    state = _HISTORY_BLOOM_CACHE.get(key)
    if state is None:
        # evict superseded entries for the same directory: an in-place
        # regeneration changes mtimes (new key) and the old bitmap —
        # multi-MB at production capacity — would otherwise stay
        # pinned for the session
        for stale in [k2 for k2 in _HISTORY_BLOOM_CACHE if k2[0] == sf_dir]:
            del _HISTORY_BLOOM_CACHE[stale]
        hkeys = history.select("content_hash").where(
            F.col("content_hash").isNotNull()
        )
        n = hkeys.count()
        m, k = incremental.bloom_params(n, 0.01)
        bits = incremental.build_bloom(
            hkeys.select(*incremental.hash_columns("content_hash")), m, k
        )
        state = _HISTORY_BLOOM_CACHE[key] = (bits, m, k)
    return state


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup suite, two legs in one driver row (tagged union):

    - ``leg='corpus'``: whole-corpus dedup in ONE aggregate pass — the
      survivor (min doc_id per content hash) with its group size;
      ``n_copies > 1`` rows are the duplicate groups. One md5 hash
      shuffle with map-side partial aggregation (plain load — see
      dedup_exact_survivors).
    - ``leg='incremental_novel'``: the steady-state path — an ingest
      batch (odd doc_ids) deduplicated AGAINST an already-accepted
      history (even doc_ids) through the distributed Bloom prefilter +
      exact-confirm anti-join (llm/incremental.py). The output equals
      the plain anti-join (false positives are confirmed away), so the
      probabilistic prefilter sits under a full hash oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw_hashed = docs.select("doc_id", F.md5("text").alias("content_hash"))
    # Materialize (doc_id, content_hash) ONCE (lazy localCheckpoint):
    # the three consumers below (corpus agg, batch probe, history
    # confirm side) each re-ran the full-text md5 scan in the static
    # plan — 0.55 -> 0.42 s at sf0.1, value-identical. The bloom memo
    # keeps reading identity from the RAW frame (inputFiles on a
    # checkpointed lineage is not contract-stable).
    hashed = raw_hashed.localCheckpoint(eager=False)
    # ONE history predicate drives both the bloom build (raw frame) and
    # the confirm-join side (checkpointed frame): incremental_novel's
    # contract forbids a bloom built from a SUBSET of the join history
    # (an undershooting filter silently admits duplicates), so the two
    # derivations must never drift.
    is_history = F.col("doc_id") % 2 == 0
    corpus = (
        hashed.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select(
            F.lit("corpus").alias("leg"), "doc_id", "content_hash", "n_copies"
        )
    )
    history = hashed.filter(is_history)
    # NOT ~is_history: a negative odd doc_id has doc_id % 2 == -1 in
    # both engines (sign of the dividend), matching NEITHER leg — the
    # oracle's `% 2 = 1` must keep that exact behavior.
    batch = hashed.filter(F.col("doc_id") % 2 == 1)
    novel = incremental.incremental_novel(
        batch, history, "content_hash",
        bloom=_history_bloom(sf_dir, raw_hashed.filter(is_history)),
    )
    novel = novel.select(
        F.lit("incremental_novel").alias("leg"),
        "doc_id",
        "content_hash",
        F.lit(None).cast("long").alias("n_copies"),
    )
    return corpus.unionByName(novel)


DEDUP_EXACT_ORACLE = """
SELECT 'corpus' AS leg, min(doc_id) AS doc_id, md5(text) AS content_hash,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
UNION ALL
SELECT 'incremental_novel' AS leg, d.doc_id, md5(d.text) AS content_hash,
       CAST(NULL AS BIGINT) AS n_copies
FROM documents d
WHERE d.doc_id % 2 = 1
  AND NOT EXISTS (
    SELECT 1 FROM documents h
    WHERE h.doc_id % 2 = 0 AND md5(h.text) = md5(d.text)
  )
"""


# --- blocked n-gram Jaccard near-dup ------------------------------------


def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str,
                        assign: DataFrame | None = None) -> DataFrame:
    """Exact token-set Jaccard near-dedup, verified against the LSH
    bucket REPRESENTATIVE — O(N) verifications, never O(pairs).

    Round-1 history: the first version blocked on (lang, source) —
    fixed-cardinality blocks, corpus-quadratic at scale. Listing all
    candidate pairs from LSH buckets is no better on a dup-heavy
    corpus: the testdata has ~30% of ALL pairs above J=0.8, so any
    emit-all-pairs operator is Θ(N²) in its own output. The shape that
    survives 100 TB is the production MinHash-dedup recipe: elect one
    representative per band bucket (min doc_id), point every other
    bucket member at its smallest representative, and run the exact
    Jaccard verify only on those (doc, rep) edges — at most one verify
    per doc, each against a deterministic partner.

    Emits one row per non-representative doc that VERIFIES (J >= 0.8)
    against its representative: (doc_id, rep_id, jaccard) — the drop
    list of the dedup pass. Recall per band is J^2; across 4 bands
    1-(1-J^2)^4 ≈ 0.996 at the threshold; a doc whose smallest rep
    fails the verify is kept (conservative, deterministic).

    ``assign``: optionally consume a pre-built (band, bucket, doc_id)
    band-assignment frame — the registered slot shares ONE staged
    assignment between this verify leg and the clustering legs
    (llm/components.py), instead of rebuilding the dominant
    MinHash/banding subtree twice (round-9 review fix; the DuckDB
    oracle already shared it via MATERIALIZED CTEs)."""
    # Representative election via a window min, not a groupBy+self-join:
    # the self-join form rebuilt the signature subplan on both sides
    # (scanned the corpus twice more); the window computes reps in the
    # same shuffle that already partitions assignments by bucket.
    if assign is None:
        assign = _band_assignments(minhash_signatures(spark, sf_dir))
    w = Window.partitionBy("band", "bucket")
    # Staged (lazy localCheckpoint): three consumers — the verify join
    # plus the two candidate-id prefilters below — must not re-run the
    # banding window each (optimization round 14).
    cand = (
        assign.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("rep"))
        .groupBy("doc_id")
        .agg(F.min("rep").alias("rep_id"))
        .localCheckpoint(eager=False)
    )
    # Candidate-id prefilter (optimization round 14, guide §3.2): only
    # docs that appear in a (doc, rep) edge ever reach the exact
    # verify, so the corpus is semi-joined down to those ids BEFORE
    # tokenization — the former shape tokenized and shuffled the WHOLE
    # corpus into both join sides to keep |cand| rows. The id frames are
    # O(corpus) on duplicate-heavy data (one row per bucketed non-rep
    # doc), so the join strategy is left to AQE: it broadcasts them
    # while they fit (tests/test_plans.py pins that at the fixture
    # scale), and where the drop-candidate set outgrows a broadcast the
    # same two semi-joins run as shuffled semi-joins — still moving
    # only matching documents' token arrays, never the corpus.
    # Inner-join equivalence: ta rows that survive the verify join all
    # have doc_id in cand.doc_id; tb rows likewise in cand.rep_id —
    # a semi-join on exactly those key sets drops no output row.
    docs = load_table(spark, sf_dir, "documents")
    ta = (
        docs.join(cand.select("doc_id"), "doc_id", "left_semi")
        .select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks_doc")
        )
    )
    tb = (
        docs.join(
            cand.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
        )
        .select(
            F.col("doc_id").alias("rep_id"),
            F.array_distinct(F.split("text", " ")).alias("toks_rep"),
        )
    )
    inter = F.size(F.array_intersect("toks_doc", "toks_rep"))
    jacc = F.round(
        inter / (F.size("toks_doc") + F.size("toks_rep") - inter).cast("double"), 6
    )
    return (
        cand.join(ta, "doc_id")
        .join(tb, "rep_id")
        .select("doc_id", "rep_id", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


def _bands_sql() -> str:
    """The LSH band-assignment SELECT (assumes CTE ``sig`` in scope)."""
    return "\nUNION ALL\n".join(
        f"SELECT {band} AS band, md5(concat_ws('_', {band}, mh{2 * band}, mh{2 * band + 1})) AS bucket, doc_id FROM sig"
        for band in range(BANDS)
    )


def _ngram_jaccard_ctes_sql() -> str:
    """reps/cand/toks/verify CTE bodies (assume ``sig`` and ``bands``
    CTEs in scope). Factored so llm/components.py can embed the verify
    leg next to its clustering CTEs at ONE ``WITH`` level: a nested
    WITH that shadows an outer MATERIALIZED CTE name trips a DuckDB
    1.0.0 internal error ('Recursive CTE scan found without recursive
    CTE node')."""
    return """
reps AS (
  SELECT band, bucket, min(doc_id) AS rep FROM bands GROUP BY band, bucket
),
cand AS (
  SELECT b.doc_id, min(r.rep) AS rep_id
  FROM bands b JOIN reps r ON b.band = r.band AND b.bucket = r.bucket
  WHERE b.doc_id != r.rep
  GROUP BY b.doc_id
),
toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
),
verify AS (
  SELECT c.doc_id, c.rep_id,
         round(len(list_intersect(ta.toks, tb.toks))
               / CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_id
  JOIN toks tb ON tb.doc_id = c.rep_id
  WHERE round(len(list_intersect(ta.toks, tb.toks))
              / CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE),
              6) >= 0.8
)"""


def _ngram_jaccard_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sig_sql()}),
bands AS ({_bands_sql()}),{_ngram_jaccard_ctes_sql()}
SELECT doc_id, rep_id, jaccard FROM verify
"""


NGRAM_JACCARD_ORACLE = None  # assigned after _minhash_sig_sql is defined


# --- MinHash signatures + LSH bands -------------------------------------


def _staged_token_hashes(spark: SparkSession, sf_dir: str,
                         docs: DataFrame | None = None) -> DataFrame:
    """(doc_id, _th) — the barrier-staged hashed distinct-token array
    BOTH signature families (minhash, simhash) build from; one owner
    so the token hashing and the NULL policy cannot drift between
    them. NULL-text docs carry no signature (nothing to near-dup-
    compare) and are EXCLUDED, matching the oracles' unnest semantics
    — an unfiltered build emitted NULL-signature rows the oracles
    dropped (caught by tests/test_parity_fuzz.py). ``docs`` overrides
    the table scan with an explicit (doc_id, text) frame — the
    incremental-ledger batch path (llm/components.py)."""
    from ..catalog import arrays_barrier
    from ..portable_sql import hex32_array_spark

    docs = (
        docs if docs is not None else _docs(spark, sf_dir)
    ).where(F.col("text").isNotNull())
    return arrays_barrier(
        docs,
        ["doc_id"],
        {"_th": F.expr(hex32_array_spark("array_distinct(split(text, ' '))"))},
    )


def minhash_signatures(spark: SparkSession, sf_dir: str,
                       docs: DataFrame | None = None) -> DataFrame:
    """8-permutation MinHash signature per document over distinct
    whitespace tokens, as PURE ROW EXPRESSIONS: hash the in-row
    distinct-token array once (one md5 per token — hex32_array), stage
    it behind a Generate barrier (catalog.arrays_barrier: interpreted
    HOFs get no CSE, so an unstaged fold re-evaluates per referencing
    column — a first, barrier-less attempt measured 0.9s -> 3.3s), and
    take each permutation's array_min over the materialized attribute.

    Zero shuffle: the former explode + groupBy(doc_id) moved every
    distinct token of the corpus through an exchange to compute a
    per-doc value that never needed cross-row state. At 100 TB the
    signature stage is now embarrassingly parallel; only the (doc,
    band) bucket rows downstream — 8 small rows per doc, no token
    data — ever shuffle."""
    staged = _staged_token_hashes(spark, sf_dir, docs=docs)
    # selectExpr with generated SQL strings: the Column-object form of
    # these 8 folds cost ~100 py4j round trips per plan build.
    return staged.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(_th, h -> ({a} * h + {b}) % {HASH_PRIME}))"
            f" AS mh{i}"
            for i, (a, b) in enumerate(MINHASH_PARAMS)
        ],
    )


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min({minhash_term('tok', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
)
SELECT doc_id, {mins} FROM toks GROUP BY doc_id
"""


def _band_assignments(sig: DataFrame) -> DataFrame:
    """(band, bucket, doc_id) LSH band assignment rows from a MinHash
    signature frame: 4 bands x 2 rows, band key = md5 of the band's
    concatenated values. Shared by minhash_lsh_buckets (occupancy) and
    ngram_jaccard_dedup (candidate generation).

    One explode over an inline array of (band, bucket) structs — NOT a
    4-branch union: union branches are independent subplans, so the
    union form recomputed the whole shingle-explode + 8-perm MinHash
    aggregation once per band (no exchange reuse across branches; 10
    scans / 22 exchanges in the downstream dedup plan). The explode
    form computes the signature once at any scale."""
    entries = []
    for band in range(BANDS):
        lo, hi = 2 * band, 2 * band + 1
        key = F.md5(F.concat_ws("_", F.lit(band), F.col(f"mh{lo}"), F.col(f"mh{hi}")))
        entries.append(
            F.struct(F.lit(band).alias("band"), key.alias("bucket"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("_e")
    ).select(F.col("_e.band").alias("band"), F.col("_e.bucket").alias("bucket"), "doc_id")


def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature + banding + occupancy in ONE oracle-checked output
    (registry consolidation, round 4 — frees a driver slot without
    losing coverage): each (doc, band) row carries the doc's full
    8-perm MinHash signature, its band's md5 bucket key, and the
    bucket's occupancy. Proves the signature values (explicit mh
    columns), the banding (bucket keys), and the candidate criterion
    (n_docs) in one frame. Plan skeleton: one explode + one groupBy for
    the signature, inline-array band explode, one window for occupancy.

    Round 5 adds FUZZY decontamination on the same rows: with the
    held-out benchmark slice of ``llm/text.py`` (doc_id % BENCH_MOD),
    ``fuzzy_contam_band`` flags a (doc, band) whose bucket also holds
    a DIFFERENT benchmark doc — the MinHash near-dup analogue of the
    exact 5-gram contamination rule (eval lookalikes, not just eval
    copies, leaking into training data). Both extra columns ride the
    existing (band, bucket) window partition: zero additional
    exchanges."""
    from .text import BENCH_MOD

    sig = minhash_signatures(spark, sf_dir)
    entries = []
    for band in range(BANDS):
        lo, hi = 2 * band, 2 * band + 1
        key = F.md5(F.concat_ws("_", F.lit(band), F.col(f"mh{lo}"), F.col(f"mh{hi}")))
        entries.append(F.struct(F.lit(band).alias("band"), key.alias("bucket")))
    mh_cols = [f"mh{i}" for i in range(len(MINHASH_PARAMS))]
    assign = sig.select(
        "doc_id", *mh_cols, F.explode(F.array(*entries)).alias("_e")
    ).select(
        "doc_id",
        F.col("_e.band").alias("band"),
        F.col("_e.bucket").alias("bucket"),
        *mh_cols,
    )
    w = Window.partitionBy("band", "bucket")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    n_bench = F.count(F.when(is_bench, 1)).over(w)
    return (
        assign.withColumn("n_docs", F.count("*").over(w))
        .withColumn("n_bench_docs", n_bench)
        .withColumn(
            "fuzzy_contam_band",
            (n_bench - is_bench.cast("long")) > 0,
        )
    )


def _minhash_lsh_sql() -> str:
    bands_sql = "\nUNION ALL\n".join(
        f"SELECT doc_id, {band} AS band,"
        f" md5(concat_ws('_', {band}, mh{2 * band}, mh{2 * band + 1})) AS bucket"
        " FROM sig"
        for band in range(BANDS)
    )
    mh_cols = ", ".join(f"s.mh{i}" for i in range(len(MINHASH_PARAMS)))
    from .text import BENCH_MOD

    return f"""
WITH sig AS ({_minhash_sig_sql()}),
bands AS ({bands_sql})
SELECT b.doc_id, b.band, b.bucket, {mh_cols},
       count(*) OVER (PARTITION BY b.band, b.bucket) AS n_docs,
       count(CASE WHEN b.doc_id % {BENCH_MOD} = 0 THEN 1 END)
         OVER (PARTITION BY b.band, b.bucket) AS n_bench_docs,
       (count(CASE WHEN b.doc_id % {BENCH_MOD} = 0 THEN 1 END)
          OVER (PARTITION BY b.band, b.bucket)
        - CASE WHEN b.doc_id % {BENCH_MOD} = 0 THEN 1 ELSE 0 END) > 0
         AS fuzzy_contam_band
FROM bands b JOIN sig s USING (doc_id)
"""


MINHASH_LSH_BUCKETS_ORACLE = _minhash_lsh_sql()


NGRAM_JACCARD_ORACLE = _ngram_jaccard_sql()


# --- SimHash -------------------------------------------------------------


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: per bit j, sign of sum over tokens of
    (+1 if bit j of h32(tok) else -1); fingerprint packs the signs.
    Near-dups differ in few bits (compare with bit_count(xor)).

    PURE ROW EXPRESSIONS over the staged token-hash array (same
    barrier + one-md5-per-token recipe as minhash_signatures): bit j
    of the fingerprint is set iff more than half the token hashes have
    bit j set (sign of the +-1 sum), i.e. a size(filter(...))
    majority test per bit. Zero shuffle — the former explode +
    32-conditional-sum groupBy(doc_id) moved every distinct token
    through an exchange."""
    staged = _staged_token_hashes(spark, sf_dir)
    # One generated SQL expression (the 32-term Column-object loop cost
    # ~300 py4j round trips per plan build).
    terms = " + ".join(
        f"CAST(IF(2 * size(filter(_th, h -> (shiftright(h, {j}) & 1) = 1))"
        f" > size(_th), {2 ** j}, 0) AS BIGINT)"
        for j in range(32)
    )
    return staged.selectExpr("doc_id", f"({terms}) AS simhash")


def _simhash_band_assignments(fp: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole band assignment over a SimHash frame: a pair within
    ``max_hamming`` differing bits must agree EXACTLY on at least one
    of ``max_hamming + 1`` equal-width bands, so per-band bucket joins
    find every such pair with zero recall loss. One explode over an
    inline struct array (same no-recompute shape as
    ``_band_assignments``). Output: (doc_id, simhash, band, bucket)."""
    bands = max_hamming + 1
    width = 32 // bands
    mask = (1 << width) - 1
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias(
                "bucket"
            ),
        )
        for b in range(bands)
    ]
    return fp.select(
        "doc_id", "simhash", F.explode(F.array(*entries)).alias("_e")
    ).select(
        "doc_id",
        "simhash",
        F.col("_e.band").alias("band"),
        F.col("_e.bucket").alias("bucket"),
    )


def simhash_near_dup_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """EXACT SimHash near-dup pair inventory via the pigeonhole band
    join; verification is one JVM-side ``bit_count(xor)``. Candidates
    come from per-band bucket joins — never an all-pairs comparison —
    and the pigeonhole bound makes the result identical to a
    brute-force hamming scan (tests/test_simhash_pairs.py proves it
    against a DuckDB all-pairs oracle).

    Scale note: the CANDIDATE side scales (8-bit bands here, 16-bit
    bands on a 64-bit production fingerprint — the plan is identical),
    but the OUTPUT is the full pair list, which is itself quadratic on
    a dup-heavy corpus (this testdata: 1.57M pairs from 5k docs at
    sf0.1). Use this as the diagnostic/audit op; the dedup decision op
    is ``simhash_dedup`` below, whose output is O(N)."""
    fp = simhash_fingerprints(spark, sf_dir)
    assign = _simhash_band_assignments(fp, max_hamming)
    a = assign.select(
        F.col("band"), F.col("bucket"),
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
    )
    b = assign.select(
        F.col("band"), F.col("bucket"),
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dedup DROP LIST, representative-verified: elect
    the min-doc_id representative per pigeonhole band bucket, point
    each non-representative at its smallest representative, verify
    with one ``bit_count(xor)``, and emit (doc_id, rep_id, hamming)
    for verified drops. At most one verify per doc and O(N) output —
    the same shape as ``ngram_jaccard_dedup``, and the one that
    survives a dup-heavy corpus at 100 TB (the pair-listing variant
    above is quadratic in its own output there). A doc whose smallest
    rep fails the hamming gate is kept: conservative, deterministic.

    No join back to the fingerprint table: the band assignment carries
    the fingerprint along, the representative is elected as
    ``min(struct(doc_id, simhash))`` over the bucket window (struct
    ordering is lexicographic and doc_id is unique, so this IS the
    min-doc_id rep — with its fingerprint attached for free), and the
    per-doc smallest rep falls out of the final groupBy the same way.
    One corpus scan, three shuffles (fingerprint agg, bucket window,
    per-doc agg) — a join-based formulation re-ran the whole
    fingerprint subplan three times (6 scans, no exchange reuse)."""
    fp = simhash_fingerprints(spark, sf_dir)
    assign = _simhash_band_assignments(fp, max_hamming)
    w = Window.partitionBy("band", "bucket")
    rep = F.min(F.struct(F.col("doc_id"), F.col("simhash"))).over(w)
    cand = (
        assign.withColumn("rep", rep)
        .filter(F.col("doc_id") != F.col("rep.doc_id"))
        .groupBy("doc_id")
        .agg(F.first("simhash").alias("sim_doc"), F.min("rep").alias("rep"))
    )
    ham = F.bit_count(F.col("sim_doc").bitwiseXOR(F.col("rep.simhash"))).cast("int")
    return (
        cand.select("doc_id", F.col("rep.doc_id").alias("rep_id"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_profile(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """Fingerprint + dedup decision for EVERY doc in one output
    (registry consolidation, round 4): simhash for all docs; rep_id /
    hamming filled for verified drops, null for survivors. Subsumes
    the separate ``simhash_fingerprints`` and ``simhash_dedup``
    registry entries without rerunning the fingerprint subplan — the
    candidate rep is nulled in-row when the doc IS its bucket's rep,
    so the per-doc aggregate keeps all N docs (min() skips nulls) and
    no join back to the fingerprint table is needed. Same one-scan /
    three-shuffle plan as ``simhash_dedup``."""
    fp = simhash_fingerprints(spark, sf_dir)
    assign = _simhash_band_assignments(fp, max_hamming)
    w = Window.partitionBy("band", "bucket")
    rep = F.min(F.struct(F.col("doc_id"), F.col("simhash"))).over(w)
    per_doc = (
        assign.withColumn("_rep", rep)
        .withColumn(
            "rep", F.when(F.col("_rep.doc_id") != F.col("doc_id"), F.col("_rep"))
        )
        .groupBy("doc_id")
        .agg(F.first("simhash").alias("simhash"), F.min("rep").alias("rep"))
    )
    ham = F.bit_count(F.col("simhash").bitwiseXOR(F.col("rep.simhash"))).cast("int")
    return per_doc.select(
        "doc_id",
        "simhash",
        F.when(ham <= max_hamming, F.col("rep.doc_id")).alias("rep_id"),
        F.when(ham <= max_hamming, ham).alias("hamming"),
    )


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(32)
    )
    packs = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END" for j in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, {hex32('tok')} AS h FROM toks
), s AS (
  SELECT doc_id, {sums} FROM h GROUP BY doc_id
)
SELECT doc_id, {packs} AS simhash FROM s
"""


SIMHASH_ORACLE = _simhash_sql()


def _simhash_profile_sql(max_hamming: int = 3) -> str:
    bands = max_hamming + 1
    width = 32 // bands
    mask = (1 << width) - 1
    band_sel = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * width}) & {mask} AS bucket FROM fp"
        for b in range(bands)
    )
    return f"""
WITH fp AS ({SIMHASH_ORACLE}),
bands AS ({band_sel}),
reps AS (SELECT band, bucket, min(doc_id) AS rep FROM bands GROUP BY band, bucket),
cand AS (
  SELECT b.doc_id, min(r.rep) AS cand_rep
  FROM bands b JOIN reps r ON b.band = r.band AND b.bucket = r.bucket
  WHERE b.doc_id != r.rep GROUP BY b.doc_id
)
SELECT f.doc_id, f.simhash,
       CASE WHEN bit_count(xor(f.simhash, fr.simhash)) <= {max_hamming}
            THEN c.cand_rep END AS rep_id,
       CASE WHEN bit_count(xor(f.simhash, fr.simhash)) <= {max_hamming}
            THEN CAST(bit_count(xor(f.simhash, fr.simhash)) AS INTEGER) END AS hamming
FROM fp f
LEFT JOIN cand c ON f.doc_id = c.doc_id
LEFT JOIN fp fr ON fr.doc_id = c.cand_rep
"""


SIMHASH_PROFILE_ORACLE = _simhash_profile_sql()


QUERIES = [
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE,
              "exact-dedup survivors/groups + bloom-prefiltered "
              "incremental dedup of a batch vs history"),
    # ngram_jaccard_dedup's slot moved to llm/components.py (round 9):
    # same verify leg, now tagged-unioned with the connected-component
    # member/cluster legs.
    QuerySpec("minhash_lsh_buckets", minhash_lsh_buckets, MINHASH_LSH_BUCKETS_ORACLE,
              "MinHash signatures + LSH bands + bucket occupancy in one"),
    QuerySpec("simhash_profile", simhash_profile, SIMHASH_PROFILE_ORACLE,
              "SimHash fingerprint + rep-verified dedup decision per doc"),
]
