r"""Deduplication operators over ``documents`` (driver-directed extension).

Four tiers, cheapest-first — the standard large-corpus dedup ladder:

1. exact          — hash-groupBy on normalized content (text_fingerprint's
                    sibling; keeps min doc_id per group).
2. ngram_jaccard  — exact n-gram-shingle Jaccard similarity join
                    (quadratic in candidates; the *verifier*, not the
                    *finder*, at scale).
3. minhash_lsh    — MinHash signatures + banded LSH: candidate pairs cost
                    ~|docs|·k instead of |docs|², then exact-Jaccard
                    verification on candidates only. This is the 100 TB
                    path.
4. simhash        — 32-bit SimHash + banded Hamming join (near-dup via
                    bit-difference ≤ r).

Every hash derives from md5 (functions/texthash.py) so the DuckDB oracles
are bit-exact twins: the oracle SQL below is *generated from the same
(a,b) hash constants* as the Spark expressions.

Scale notes:
- shingle explosion is the big intermediate (docs × shingles); project
  ONLY (doc_id, shingle-hash) before any shuffle — never carry text.
- the LSH band join shuffles (band_id, band_hash) pairs; hot buckets
  (boilerplate shingles) are the skew risk — cap bucket size
  (`LSH_BUCKET_CAP`) exactly like production near-dup pipelines do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_etl_studio_spark.catalog import load_table
from ai_etl_studio_spark.functions.texthash import (
    MERSENNE31,
    md5_hash32,
    minhash_params,
    sql_md5_hash32,
    word_shingles,
    tokens,
)
from ai_etl_studio_spark.layout_cache import build_once, layout_ident
from ai_etl_studio_spark.operators import register

SHINGLE_N = 3
MINHASH_K = 16
LSH_BANDS = 4  # 4 bands × 4 rows
LSH_ROWS = MINHASH_K // LSH_BANDS
JACCARD_THRESHOLD = 0.2
#: Hot-bucket guard: at most this many docs participate per (band,
#: band_key) bucket. Boilerplate-heavy corpora put thousands of docs in
#: one bucket, turning the band self-join quadratic; the cap bounds any
#: bucket's pair fan-out at CAP² while keeping recall for normal buckets
#: (dups still collide in their other bands). row_number over doc_id
#: keeps the kept subset deterministic across runs/engines.
LSH_BUCKET_CAP = 32
_MH_PARAMS = minhash_params(MINHASH_K)

# DuckDB shingle-set fragment shared by the oracle strings below:
# distinct 3-word shingles per doc (1-based list slicing).
_SQL_SHINGLES = rf"""
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+{SHINGLE_N - 1}], ' ')
                        for i in range(1, len(toks) - {SHINGLE_N} + 2)]) AS shingles
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents) t
  WHERE len(toks) >= {SHINGLE_N}
"""


def _spread_corpus(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Input-parallelism guard for the CPU-heavy corpus chains (guide
    §2.5, input skew): locally the corpus is ONE small parquet file, so
    its scan yields 1-2 partitions and the tokenize → shingle →
    md5-per-shingle → {MINHASH_K}-minhash expression chain runs nearly
    serial while the other cores idle (measured: the signature op ran
    in 5 tasks, ~3.3 s). When the scan has fewer splits than cores,
    spread the skinny (doc_id, text) rows first — one tiny shuffle buys
    a ~cores-wide compute stage. At production scale the scan already
    has ≥ cores splits and this is a NO-OP (no shuffle added) — the
    guard is on the split count, not a constant."""
    from ai_etl_studio_spark.catalog import spread_small_scan

    return spread_small_scan(spark, docs)


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) exploded distinct shingles; the shared front of
    the Jaccard/MinHash pipelines.

    The token array is materialized in its own projection BEFORE the
    shingle transform: inlining the split() expression into the
    higher-order transform makes Spark re-evaluate the split per
    element_at call (~150× per doc — measured 9s vs 0.6s at sf0.1).
    """
    d = _spread_corpus(spark, load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= SHINGLE_N)
        .select("doc_id", F.explode(word_shingles(F.col("toks"), SHINGLE_N)).alias("shingle"))
    )


@register(
    "dedup_exact",
    oracle=r"""
    SELECT norm_text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (
      SELECT doc_id,
             md5(array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')) AS norm_text_hash
      FROM documents
    ) n
    GROUP BY norm_text_hash
    HAVING COUNT(*) >= 1
    ORDER BY keep_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content hash groupBy, keep min doc_id.

    Scale: the canonical first pass — shuffles 16-byte hashes only. The
    'keep' policy (min doc_id) is deterministic, so re-runs are stable.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return (
        d.select("doc_id", F.md5(norm).alias("norm_text_hash"))
        .groupBy("norm_text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_id_1, doc_id_2,
           CAST(n_inter AS DOUBLE) / (s1.n_sh + s2.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes s1 ON doc_id_1 = s1.doc_id
    JOIN sizes s2 ON doc_id_2 = s2.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (s1.n_sh + s2.n_sh - n_inter) >= {JACCARD_THRESHOLD}
    ORDER BY doc_id_1, doc_id_2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs ≥ threshold.

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) — integer counts, double division:
    exact cross-engine.

    Scale: the shingle self-join is quadratic in docs *sharing a shingle*;
    it is the verification stage — run it on LSH candidates (below), not
    the full corpus. Kept runnable standalone for oracle parity.
    """
    sh = _shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n_sh_1"))
    s2 = sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n_sh_2"))
    jac = F.col("n_inter").cast("double") / (F.col("n_sh_1") + F.col("n_sh_2") - F.col("n_inter"))
    return (
        inter.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select("doc_id_1", "doc_id_2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_id_1", "doc_id_2")
    )


def _minhash_oracle() -> str:
    """Generate the DuckDB oracle for the MinHash signature query using the
    SAME (a,b) constants as the Spark expressions."""
    h = sql_md5_hash32("shingle")
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE31}) AS mh_{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    mh_cols = ", ".join(f"mh_{i}" for i in range(MINHASH_K))
    return rf"""
    WITH sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    hashed AS (SELECT doc_id, {h} AS h FROM ex),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {mh_cols} FROM sig ORDER BY doc_id
    """


def shingle_array_from(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles ARRAY) from any (doc_id, text, ...) frame —
    pure column expressions, so it applies to batch AND streaming
    DataFrames identically (used by the incremental dedup stream)."""
    return (
        docs.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= SHINGLE_N)
        .select("doc_id", word_shingles(F.col("toks"), SHINGLE_N).alias("shingles"))
    )


def _shingle_array_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles ARRAY) — the un-exploded twin of _shingle_df;
    front of the zero-shuffle signature path and the Jaccard verifier.
    Corpus spread first when the scan is under-split (r11, guide §2.5)."""
    return shingle_array_from(
        _spread_corpus(spark, load_table(spark, sf_dir, "documents"))
    )


def signature_from_arrays(sh_arr: DataFrame) -> DataFrame:
    """MinHash signatures from a (doc_id, shingles ARRAY) frame — lets a
    caller that also needs the shingle arrays for OTHER legs (exact
    Jaccard, set sizes) compute the expensive tokenize→shingle pass ONCE
    and derive signatures from the shared (checkpointed) frame (r11)."""
    hashed = sh_arr.select(
        "doc_id", F.transform("shingles", lambda s: md5_hash32(s)).alias("hs")
    )
    return hashed.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("hs", lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31)
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(_MH_PARAMS)
        ],
    )


def signature_from(docs: DataFrame) -> DataFrame:
    """MinHash signatures from any (doc_id, text, ...) frame — the
    zero-shuffle array-transform form (see _signature_df)."""
    return signature_from_arrays(shingle_array_from(docs))


def _signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with ZERO shuffle: per-doc array transforms
    (hash each shingle once, then k array_min passes) instead of
    explode + groupBy. The values are identical (min over the same
    per-shingle hash family), but the plan is embarrassingly parallel —
    at 100 TB the signature stage costs one corpus scan and no exchange,
    where the exploded form shuffles (doc_id, k partial mins) and forces
    a stage barrier. Measured at sf0.1: 1.78 s vs 1.97 s local, but the
    structural win is the removed shuffle, not the local delta.
    Corpus spread first when the scan is under-split (r11, guide §2.5).
    """
    return signature_from(
        _spread_corpus(spark, load_table(spark, sf_dir, "documents"))
    )


@register("dedup_minhash_signatures", oracle=_minhash_oracle())
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: k={MINHASH_K} universal hashes
    h_i(x) = (a_i·x + b_i) mod 2^31-1 over md5-derived 32-bit shingle
    hashes; signature = per-doc min of each h_i. Signature size is
    k·8 bytes/doc regardless of document length.

    Scale: computed via per-doc array transforms (_signature_df) — no
    explode, no groupBy, no shuffle; the oracle replays the same min
    over an exploded form, which is value-identical.
    """
    return _signature_df(spark, sf_dir).orderBy("doc_id")


def _bands_cte() -> str:
    """Shared oracle CTE chain: shingles → 32-bit hashes → MinHash
    signature → banded keys (same (a,b) constants as the Spark side)."""
    h = sql_md5_hash32("shingle")
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE31}) AS mh_{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    band_rows = []
    for band in range(LSH_BANDS):
        cols = ", ".join(f"mh_{band * LSH_ROWS + r}" for r in range(LSH_ROWS))
        band_rows.append(
            f"SELECT doc_id, {band} AS band, md5(concat_ws('-', {cols})) AS band_key FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    return rf"""sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    hashed AS (SELECT doc_id, {h} AS h FROM ex),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    bands AS ({bands_sql})"""


_SQL_CAPPED_BUCKETS = f"""capped AS (
      SELECT doc_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
        FROM bands) r
      WHERE rn <= {LSH_BUCKET_CAP}
    )"""


def _lsh_pairs_oracle() -> str:
    return rf"""
    WITH {_bands_cte()}
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ORDER BY doc_id_1, doc_id_2
    """


def bands_from_sig(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a signature frame (r11 split so a
    caller holding a shared/checkpointed signature frame can band it
    without re-running the shingle→signature pipeline)."""
    # One band-key array + posexplode — NOT a union of per-band frames,
    # which would recompute the whole shingle->signature pipeline once per
    # band per join side (measured 25s vs ~4s at sf0.1).
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "-", *[F.col(f"mh_{band * LSH_ROWS + r}") for r in range(LSH_ROWS)]
                )
            )
            for band in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band", "band_key"))


def bands_from(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from any (doc_id, text, ...) frame —
    batch or streaming (pure column expressions end-to-end)."""
    return bands_from_sig(signature_from(docs))


def _band_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) — one row per doc per band. Narrow all
    the way from the scan (signatures are shuffle-free), so the LSH band
    self-join is the ONLY exchange in the candidate-pair pipeline.
    Corpus spread first when the scan is under-split (r11, guide §2.5)."""
    return bands_from(
        _spread_corpus(spark, load_table(spark, sf_dir, "documents"))
    )


def _capped_bands(bands: DataFrame, cap: int) -> DataFrame:
    """Hot-bucket guard: at most ``cap`` docs per (band, band_key)
    bucket survive (deterministic row_number over doc_id). Named so
    plan tests can assert the cap window on the PRODUCER — after the
    r11 materialization below, the window no longer appears in a
    consumer's own plan (it scans the checkpointed table instead)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_key").orderBy("doc_id")
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def _lsh_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    cap: int | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate (doc_id_1 < doc_id_2) pairs from the band
    self-join; ``cap`` bounds per-bucket participation (hot-bucket guard).

    ``bands`` lets a caller inject a pre-built (possibly shared)
    (doc_id, band, band_key) frame; by default the band table is built
    here. Either way it is MATERIALIZED once (localCheckpoint) before
    the self-join: without that, each join side re-ran the whole
    md5-per-shingle signature pipeline (exchange reuse never fired —
    plan-verified 2× `Scan parquet` + 2× Project chains, r11). At
    cluster scale this is a persist() of |docs|×{LSH_BANDS} skinny rows
    — far cheaper than a second corpus-wide hash pass. The capped
    window's (band, band_key) hash partitioning survives the
    checkpoint, so the self-join still adds no extra exchange."""
    if bands is None:
        bands = _band_df(spark, sf_dir)
    if cap is not None:
        bands = _capped_bands(bands, cap)
    bands = bands.localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2"))
        .distinct()
    )


@register("dedup_minhash_lsh_pairs", oracle=_lsh_pairs_oracle())
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs: signatures split into {LSH_BANDS} bands
    of {LSH_ROWS}; docs colliding on any full band become candidates.
    Collision probability ≈ 1-(1-j^rows)^bands — tuned for j ≳ 0.5.

    Scale: THE near-dup finder at 100 TB. Shuffle is (band, band_key) —
    constant bytes per doc. This uncapped form is the oracle-parity
    baseline; production runs the capped twin below
    (dedup_minhash_lsh_pairs_capped), which bounds hot-bucket fan-out.
    """
    return _lsh_candidate_pairs(spark, sf_dir).orderBy("doc_id_1", "doc_id_2")


def _lsh_capped_oracle() -> str:
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS}
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ORDER BY doc_id_1, doc_id_2
    """


@register("dedup_minhash_lsh_pairs_capped", oracle=_lsh_capped_oracle())
def dedup_minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-capped LSH candidate pairs: at most {LSH_BUCKET_CAP}
    docs per (band, band_key) bucket enter the self-join (deterministic
    row_number over doc_id), bounding any bucket's pair fan-out at CAP².

    Scale: THE production near-dup finder shape. A boilerplate shingle
    set shared by 10^6 docs otherwise yields 10^12 pairs from a single
    bucket; with the cap, the worst bucket yields CAP·(CAP-1)/2 pairs and
    true dups still collide in their other bands. The window shuffles the
    same (band, band_key) partitioning the join needs, so the guard adds
    no extra exchange.
    """
    return _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP).orderBy(
        "doc_id_1", "doc_id_2"
    )


def _lsh_verified_oracle() -> str:
    jac = (
        "CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) / "
        "(len(s1.shingles) + len(s2.shingles) - len(list_intersect(s1.shingles, s2.shingles)))"
    )
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_id_1, c.doc_id_2, {jac} AS jaccard
    FROM cand c
    JOIN sh s1 ON c.doc_id_1 = s1.doc_id
    JOIN sh s2 ON c.doc_id_2 = s2.doc_id
    WHERE {jac} >= {JACCARD_THRESHOLD}
    ORDER BY doc_id_1, doc_id_2
    """


@register("dedup_lsh_verified_pairs", oracle=_lsh_verified_oracle())
def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full two-stage near-dup pipeline: capped-LSH candidate pairs →
    exact shingle-Jaccard verification ≥ {JACCARD_THRESHOLD}. This is the
    scale-safe registered form of exact Jaccard — the all-pairs
    dedup_ngram_jaccard is kept only as the oracle-parity baseline.

    Scale: Jaccard runs on |candidates| pairs (linear-ish in corpus for
    banded LSH), not |docs|². The shingle arrays join to the pair list by
    doc_id — two shuffles of (doc_id, shingle-array), each array bounded
    by doc length; intersection is a JVM-side array_intersect, no
    explode, no Python.

    The tokenize→shingle pass runs ONCE (checkpointed) and feeds the
    candidate pipeline AND both verify legs — previously each of the
    three consumers re-ran it from the scan (r11, plan-verified).
    """
    sh_arr = _shingle_array_df(spark, sf_dir).localCheckpoint()
    cand = _lsh_candidate_pairs(
        spark,
        sf_dir,
        cap=LSH_BUCKET_CAP,
        bands=bands_from_sig(signature_from_arrays(sh_arr)),
    )
    s1 = sh_arr.select(F.col("doc_id").alias("doc_id_1"), F.col("shingles").alias("sh_1"))
    s2 = sh_arr.select(F.col("doc_id").alias("doc_id_2"), F.col("shingles").alias("sh_2"))
    n_inter = F.size(F.array_intersect("sh_1", "sh_2"))
    paired = (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select("doc_id_1", "doc_id_2", n_inter.alias("n_inter"),
                F.size("sh_1").alias("n_1"), F.size("sh_2").alias("n_2"))
    )
    jac = F.col("n_inter").cast("double") / (F.col("n_1") + F.col("n_2") - F.col("n_inter"))
    return (
        paired.select("doc_id_1", "doc_id_2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_id_1", "doc_id_2")
    )


def _simhash_oracle() -> str:
    h = sql_md5_hash32("tok")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}" for j in range(32)
    )
    assemble = " + ".join(f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    return rf"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(text), '\s+')) AS toks
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
    hashed AS (SELECT doc_id, {h} AS h FROM ex),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash
    FROM bits ORDER BY doc_id
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-bit ±1 votes from each distinct
    token's md5-derived hash; bit j of the fingerprint is 1 iff the vote
    sum is positive. Near-dups then differ in ≤ r bits (Hamming join on
    8-bit bands — see tests for the pairing; the signature itself is the
    oracle-checked artifact).

    Scale: shuffle-free like the MinHash path — per-doc array ops
    (hash each distinct token once; bit j set iff >half the token hashes
    have bit j, i.e. the ±1 vote sum is positive). No explode, no
    groupBy; fingerprint is 8 bytes/doc. The oracle replays the exploded
    ±1-sum form, which is value-identical (2·n_set > n ⟺ Σ±1 > 0,
    ties included).
    """
    d = load_table(spark, sf_dir, "documents")
    hs = (
        # NULL-text docs must be dropped like the oracle's exploded form
        # (size(null)=-1 would otherwise emit a spurious simhash-0 row)
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.array_distinct(tokens("text")).alias("toks"))
        .select("doc_id", F.transform("toks", lambda t: md5_hash32(t)).alias("hs"))
    )
    n = F.size("hs")
    assemble = None
    for j in range(32):
        n_set = F.size(
            F.filter("hs", lambda h: F.shiftright(h, j).bitwiseAND(1) == 1)
        )
        term = F.when(n_set * 2 > n, F.lit(1 << j)).otherwise(0)
        assemble = term if assemble is None else (assemble + term)
    return hs.select("doc_id", assemble.cast("bigint").alias("simhash")).orderBy("doc_id")


def _source_matrix_oracle() -> str:
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT least(d1.source, d2.source) AS source_a,
           greatest(d1.source, d2.source) AS source_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN d1.source <> d2.source THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source
    FROM cand c
    JOIN documents d1 ON c.doc_id_1 = d1.doc_id
    JOIN documents d2 ON c.doc_id_2 = d2.doc_id
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """


@register("dedup_source_matrix", oracle=_source_matrix_oracle())
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup contamination matrix: for every unordered
    source pair, how many capped-LSH candidate pairs span it — the
    report that tells a training-data curator which feeds duplicate
    each other (and how much of a source is internal duplication).

    Scale: the pair list is small relative to the corpus (banded LSH,
    capped buckets), so the two doc_id joins hash on a compact build
    side; documents contributes only (doc_id, source) after pruning —
    the payload text never moves.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    cand = _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP)
    d1 = d.select(F.col("doc_id").alias("doc_id_1"), F.col("source").alias("src_1"))
    d2 = d.select(F.col("doc_id").alias("doc_id_2"), F.col("source").alias("src_2"))
    return (
        cand.join(d1, "doc_id_1")
        .join(d2, "doc_id_2")
        .select(
            F.least("src_1", "src_2").alias("source_a"),
            F.greatest("src_1", "src_2").alias("source_b"),
            (F.col("src_1") != F.col("src_2")).cast("int").alias("is_cross"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_cross").cast("bigint").alias("n_cross_source"),
        )
        .orderBy("source_a", "source_b")
    )


ER_CAP = 50  # per-block candidate cap (bounds pairs at CAP^2/2 per block)
ER_DIST = 2  # max edit distance to call two part names the same entity


@register(
    "er_blocked_pairs",
    oracle=f"""
    WITH m AS (
      SELECT p_partkey, p_name, blk FROM (
        SELECT p_partkey, p_name,
               unnest(['1:' || list_extract(string_split(p_name, ' '), 1),
                       '2:' || list_extract(string_split(p_name, ' '), -1)])
                 AS blk
        FROM part) u),
    capped AS (
      SELECT p_partkey, p_name, blk,
             ROW_NUMBER() OVER (PARTITION BY blk ORDER BY p_partkey) AS rn
      FROM m),
    pairs AS (
      SELECT DISTINCT a.p_partkey AS key_a, b.p_partkey AS key_b,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM capped a JOIN capped b
        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE a.rn <= {ER_CAP} AND b.rn <= {ER_CAP}
        AND levenshtein(a.p_name, b.p_name) <= {ER_DIST})
    SELECT key_a, key_b, dist FROM pairs
    ORDER BY key_a, key_b
    """,
)
def er_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by multi-key blocking: candidate part pairs
    whose names are within edit distance {ER_DIST}, found WITHOUT the
    all-pairs cross join. Each record enters two blocks (first word,
    last word of the name — multi-pass blocking squares the per-pair
    miss probability exactly like multi-probe LSH); pairs are generated
    only within a block, deduplicated across blocks.

    Scale: the self-join shuffles on the block key; a deterministic
    ROW_NUMBER cap of {ER_CAP} per block bounds the worst block at
    CAP²/2 candidate pairs (the same guard as the minhash LSH path at
    dedup.py:352), so a mega-block — every name sharing 'green' — can
    never go quadratic. Levenshtein runs JVM-side on the capped
    candidates only.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    words = F.split(F.col("p_name"), " ")
    m = p.select(
        "p_partkey",
        "p_name",
        F.explode(
            F.array(
                F.concat(F.lit("1:"), F.element_at(words, 1)),
                F.concat(F.lit("2:"), F.element_at(words, -1)),
            )
        ).alias("blk"),
    )
    capped = m.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("blk").orderBy("p_partkey")),
    ).filter(F.col("rn") <= ER_CAP)
    a = capped.select(
        F.col("blk"), F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a")
    )
    b = capped.select(
        F.col("blk"), F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= ER_DIST)
        .select("key_a", "key_b", "dist")
        .distinct()
        .orderBy("key_a", "key_b")
    )


def _stream_dedup_corpus_oracle() -> str:
    return rf"""
    WITH {_bands_cte()},
    src AS (SELECT doc_id, source FROM documents),
    idx AS (
      SELECT DISTINCT band, band_key
      FROM bands JOIN src USING (doc_id) WHERE source = 'src0'),
    inc AS (SELECT doc_id, source FROM src WHERE source <> 'src0'),
    dup AS (
      SELECT DISTINCT b.doc_id
      FROM bands b JOIN src s USING (doc_id)
      JOIN idx i ON b.band = i.band AND b.band_key = i.band_key
      WHERE s.source <> 'src0')
    SELECT inc.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dupes
    FROM inc LEFT JOIN dup d ON inc.doc_id = d.doc_id
    GROUP BY inc.source
    ORDER BY inc.source
    """


@register("stream_dedup_vs_corpus", oracle=_stream_dedup_corpus_oracle())
def stream_dedup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup gate: INCOMING documents (source != 'src0')
    checked against a STATIC LSH index of the existing corpus
    (source = 'src0') — the corpus-growth shape: the index is built
    once, new batches only probe it; nothing quadratic in corpus size
    ever runs. A doc is a duplicate if ANY of its minhash bands
    collides with an existing corpus bucket.

    The per-source rollup (docs / novel / dupes) is what the ingest
    monitor graphs. The REAL streaming form — the same band expressions
    over readStream + a stream-static join — runs in
    ``streaming.windows.run_stream_dedup_vs_corpus`` and is
    parity-tested against this twin (tests/test_streaming.py).

    Scale: index = distinct (band, band_key) of the corpus — constant
    bytes per corpus doc, prunable to a broadcast or a bucketed table;
    the probe is a semi-join of the incoming batch's bands. 100 TB
    corpus, 1 GB/day ingest → probe cost scales with the DAY, not the
    corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") == "src0")
    incoming = d.filter(F.col("source") != "src0")
    idx = bands_from(corpus).select("band", "band_key").distinct()
    hit = (
        bands_from(incoming)
        .join(idx, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        incoming.select("doc_id", "source")
        .join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0)).alias("n_novel"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dupes"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Line-level cross-document dedup (C4 / RefinedWeb-style boilerplate removal)
# ---------------------------------------------------------------------------

#: Tokens per "line" (the corpus has no newlines, so lines are fixed
#: 8-token windows — the unit of boilerplate removal).
LINE_W = 8

#: A line occurring in >= this many DISTINCT documents is boilerplate
#: (nav bars, cookie banners, licence headers) and is removed everywhere.
LINE_DROP_DF = 2


@register(
    "line_dedup_corpus",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents),
    lines AS (
      SELECT doc_id, i AS line_no,
             array_to_string(ts[(i*{LINE_W}+1):(i*{LINE_W}+{LINE_W})], ' ') AS line
      FROM toks, UNNEST(range(CAST(ceil(len(ts)/{LINE_W}.0) AS BIGINT))) AS u(i)),
    freq AS (
      SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS df
      FROM lines GROUP BY md5(line)),
    tagged AS (
      SELECT l.doc_id, l.line_no, l.line, f.df
      FROM lines l JOIN freq f ON md5(l.line) = f.h)
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN df < {LINE_DROP_DF} THEN line END,
                               ' ' ORDER BY line_no), '') AS cleaned_text,
           COUNT(CASE WHEN df < {LINE_DROP_DF} THEN 1 END) AS n_lines_kept,
           COUNT(CASE WHEN df >= {LINE_DROP_DF} THEN 1 END) AS n_lines_dropped
    FROM tagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE deduplication — the C4/RefinedWeb boilerplate
    pass: any line occurring in >= LINE_DROP_DF distinct documents is
    removed from EVERY document, and documents are reassembled in
    original line order. (The reference engine, balyuv/ai-etl-studio, has
    no text pipeline at all; this is driver-directed extension surface.)

    The corpus has no newlines, so a "line" is a fixed LINE_W-token
    window — the mechanics (hash lines, count distinct docs per line
    hash, filter, reassemble ordered) are exactly the newline-delimited
    production shape.

    Scale design:
    - line construction is a NARROW per-row expression —
      transform(sequence(...), i -> array_join(slice(ts, ...)))
      builds all line strings without an explode, then ONE posexplode
      emits (doc_id, line_no, line).
    - the frequency aggregation groups on the 16-byte md5 of the line,
      not the line text (shuffle hashes, not strings).
    - reassembly is a single groupBy(doc_id) with collect_list of
      (line_no, line) structs + array_sort — no window, no second sort
      shuffle; per-doc state is bounded by document length.
    - at 100 TB the df-filter join is a shuffle join on the line hash;
      boilerplate hashes are exactly the hot keys, but they only fan
      INTO the (tiny) freq side — the lines side stays uniformly
      distributed.
    """
    d = load_table(spark, sf_dir, "documents")
    lines = _doc_lines(d)
    freq = lines.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    tagged = lines.join(freq, "h")
    keep = F.col("df") < LINE_DROP_DF
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("line_no", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("cleaned_text"),
            F.count(F.when(keep, 1)).alias("n_lines_kept"),
            F.count(F.when(~keep, 1)).alias("n_lines_dropped"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Build-once boilerplate-line index + incremental serve path
# ---------------------------------------------------------------------------

def _doc_lines(d: DataFrame) -> DataFrame:
    """(doc_id, line_no, line, h): fixed LINE_W-token windows + digest,
    built with a narrow transform + ONE posexplode (no token explode)."""
    ts = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    docs = d.select("doc_id", ts.alias("ts")).filter(F.size("ts") >= 1)
    n_lines = F.ceil(F.size("ts") / F.lit(float(LINE_W))).cast("int")
    line_arr = F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.array_join(F.slice("ts", i * LINE_W + 1, LINE_W), " "),
    )
    return docs.select(
        "doc_id", F.posexplode(line_arr).alias("line_no", "line")
    ).withColumn("h", F.md5("line"))


def ensure_boilerplate_index(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> str:
    """Build-once the corpus's boilerplate-line digest set (md5 of every
    line occurring in >= LINE_DROP_DF distinct documents) as a parquet
    table; later sessions re-register the files.

    This is the production split of line-dedup: the expensive global
    line-frequency pass runs once per corpus snapshot; every incremental
    ingest batch then cleans itself with a BROADCAST anti-join against
    this (tiny: |boilerplate lines| × 16 bytes) table — cost scales with
    the batch, not the corpus."""
    tbl, path = layout_ident(
        "bp_lines", sf_dir, ("documents",), (LINE_W, LINE_DROP_DF), base_dir
    )
    build_once(
        spark,
        path,
        lambda: _doc_lines(load_table(spark, sf_dir, "documents"))
        .groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= LINE_DROP_DF)
        .select("h")
        .coalesce(1),
        table=tbl,
        columns="h STRING",
    )
    return tbl


@register(
    "line_dedup_from_index",
    # identical contract to line_dedup_corpus -> same oracle, regenerated
    # here so each registry entry stays self-contained
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents),
    lines AS (
      SELECT doc_id, i AS line_no,
             array_to_string(ts[(i*{LINE_W}+1):(i*{LINE_W}+{LINE_W})], ' ') AS line
      FROM toks, UNNEST(range(CAST(ceil(len(ts)/{LINE_W}.0) AS BIGINT))) AS u(i)),
    freq AS (
      SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS df
      FROM lines GROUP BY md5(line)),
    tagged AS (
      SELECT l.doc_id, l.line_no, l.line, f.df
      FROM lines l JOIN freq f ON md5(l.line) = f.h)
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN df < {LINE_DROP_DF} THEN line END,
                               ' ' ORDER BY line_no), '') AS cleaned_text,
           COUNT(CASE WHEN df < {LINE_DROP_DF} THEN 1 END) AS n_lines_kept,
           COUNT(CASE WHEN df >= {LINE_DROP_DF} THEN 1 END) AS n_lines_dropped
    FROM tagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def line_dedup_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``line_dedup_corpus`` served from the persisted boilerplate index:
    the corpus-wide frequency aggregation is REPLACED by a broadcast
    membership join against the build-once digest table — the shape every
    incremental ingest batch runs at 100 TB (clean the new day's docs
    against yesterday's boilerplate list without touching the corpus).

    Same output contract (and oracle) as line_dedup_corpus; the plan is
    the difference: one narrow pass over the input + one membership hash
    join against the 8-byte digest table, no countDistinct shuffle, no
    line-frequency exchange. The join is hint-free: a boilerplate list
    is normally small (AQE broadcasts it), but it grows with corpus
    breadth — forcing a broadcast would put an unbounded artifact in
    every executor's memory (SCALE.md "Broadcast budget").
    """
    tbl = ensure_boilerplate_index(spark, sf_dir)
    bp = spark.table(tbl).withColumn("is_bp", F.lit(1))
    d = load_table(spark, sf_dir, "documents")
    tagged = _doc_lines(d).join(bp, "h", "left")
    keep = F.col("is_bp").isNull()
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("line_no", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("cleaned_text"),
            F.count(F.when(keep, 1)).alias("n_lines_kept"),
            F.count(F.when(~keep, 1)).alias("n_lines_dropped"),
        )
        .orderBy("doc_id")
    )


@register(
    "crosslingual_pairs",
    oracle=rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    langs AS (SELECT doc_id, lang FROM documents)
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           la.lang AS lang_1, lb.lang AS lang_2
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    JOIN langs la ON la.doc_id = a.doc_id
    JOIN langs lb ON lb.doc_id = b.doc_id
    WHERE la.lang <> lb.lang
    ORDER BY doc_id_1, doc_id_2
    """,
)
def crosslingual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language near-duplicate mining: LSH candidate pairs whose
    two documents carry DIFFERENT language tags — the bitext/mirror-page
    candidate generator of multilingual corpus pipelines (with a real
    multilingual shingler the same plan mines translation pairs; here it
    also surfaces mislabeled-language duplicates, a real cleaning task).

    Scale: candidates come from the SAME hot-bucket-capped band join as
    dedup_minhash_lsh_pairs_capped (≤{LSH_BUCKET_CAP} docs per bucket →
    CAP² worst-case fan-out per bucket, constant bytes/doc in the
    shuffle). The (doc_id → lang) annotation then shuffle-joins onto the
    candidate list on doc_id — hint-free: the map is corpus-sized, the
    candidates are few, so the shuffle carries ~|candidates| + the
    2-column map once, and AQE broadcasts the small side at runtime.
    Forcing the full-corpus map into a broadcast (the pre-r4 form) is a
    driver OOM at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    langs = d.select("doc_id", "lang")
    pairs = _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP)
    l1 = langs.select(
        F.col("doc_id").alias("doc_id_1"), F.col("lang").alias("lang_1")
    )
    l2 = langs.select(
        F.col("doc_id").alias("doc_id_2"), F.col("lang").alias("lang_2")
    )
    return (
        pairs.join(l1, "doc_id_1")
        .join(l2, "doc_id_2")
        .filter(F.col("lang_1") != F.col("lang_2"))
        .select("doc_id_1", "doc_id_2", "lang_1", "lang_2")
        .orderBy("doc_id_1", "doc_id_2")
    )


#: Containment threshold for partial-copy detection.
CONTAINMENT_THRESHOLD = 0.8


def _containment_oracle() -> str:
    inter = "len(list_intersect(s1.shingles, s2.shingles))"
    c12 = f"CAST({inter} AS DOUBLE) / len(s1.shingles)"
    c21 = f"CAST({inter} AS DOUBLE) / len(s2.shingles)"
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_id_1, c.doc_id_2,
           CAST({inter} AS BIGINT) AS n_inter,
           CAST(len(s1.shingles) AS BIGINT) AS n_1,
           CAST(len(s2.shingles) AS BIGINT) AS n_2,
           {c12} AS containment_1_in_2,
           {c21} AS containment_2_in_1
    FROM cand c
    JOIN sh s1 ON c.doc_id_1 = s1.doc_id
    JOIN sh s2 ON c.doc_id_2 = s2.doc_id
    WHERE {c12} >= {CONTAINMENT_THRESHOLD} OR {c21} >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_id_1, doc_id_2
    """


@register("dedup_containment_pairs", oracle=_containment_oracle())
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-scored near-dup pairs: capped-LSH candidates scored
    by |A∩B|/|A| in BOTH directions, keeping pairs where either doc is
    ≥ {CONTAINMENT_THRESHOLD} contained in the other — the quote /
    partial-copy detector. Jaccard misses exactly this case: a
    paragraph fully embedded in a 100× larger page has tiny Jaccard
    but containment ≈ 1.

    Scale: identical cost envelope to dedup_lsh_verified_pairs — the
    capped band join bounds candidates, exact scoring is a JVM
    array_intersect over |candidates| pairs, and the asymmetric
    divisions are per-row int/int IEEE (no tick quantization needed).
    """
    sh_arr = _shingle_array_df(spark, sf_dir)
    cand = _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP)
    s1 = sh_arr.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shingles").alias("sh_1")
    )
    s2 = sh_arr.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shingles").alias("sh_2")
    )
    n_inter = F.size(F.array_intersect("sh_1", "sh_2"))
    paired = (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            n_inter.cast("bigint").alias("n_inter"),
            F.size("sh_1").cast("bigint").alias("n_1"),
            F.size("sh_2").cast("bigint").alias("n_2"),
        )
    )
    c12 = F.col("n_inter").cast("double") / F.col("n_1")
    c21 = F.col("n_inter").cast("double") / F.col("n_2")
    return (
        paired.select(
            "doc_id_1",
            "doc_id_2",
            "n_inter",
            "n_1",
            "n_2",
            c12.alias("containment_1_in_2"),
            c21.alias("containment_2_in_1"),
        )
        .filter(
            (F.col("containment_1_in_2") >= CONTAINMENT_THRESHOLD)
            | (F.col("containment_2_in_1") >= CONTAINMENT_THRESHOLD)
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


#: (bands, rows-per-band) layouts probed by the LSH tuning curve.
_LSH_LAYOUTS = [(32, 4), (16, 8), (8, 16), (64, 2)]
#: Jaccard similarity grid (percent points).
_LSH_SIM_GRID = [10, 30, 50, 60, 70, 80, 90, 95]


def _lsh_tuning_oracle() -> str:
    layouts = " UNION ALL ".join(
        f"SELECT {b} AS bands, {r} AS rows_per_band" for b, r in _LSH_LAYOUTS
    )
    sims = ", ".join(str(s) for s in _LSH_SIM_GRID)
    return f"""
    WITH l AS ({layouts}),
    s AS (SELECT unnest([{sims}]) AS sim_pct),
    g AS (SELECT l.bands, l.rows_per_band, s.sim_pct FROM l, s)
    SELECT bands, rows_per_band, sim_pct,
           CAST(round((1 - pow(1 - pow(CAST(sim_pct AS DOUBLE) / 100,
             CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)))
             * 1000000, 0) AS BIGINT) AS p_candidate_micro
    FROM g ORDER BY bands, rows_per_band, sim_pct
    """


@register("lsh_tuning_curve", oracle=_lsh_tuning_oracle())
def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH S-curve table: candidate probability
    1−(1−s^r)^b for every (bands, rows-per-band) layout × similarity
    grid point — the tuning sheet that picks the banding before a
    100 TB dedup run (steepness at the target threshold = precision/
    recall tradeoff).

    Scale: no data touched — the grid materializes from literal
    spines; it's registered so the advisor travels with the engine and
    its arithmetic is pinned cross-engine (pow/round mirrored).
    """
    layouts = [
        (F.lit(b).alias("bands"), F.lit(r).alias("rows_per_band"))
        for b, r in _LSH_LAYOUTS
    ]
    rows = [spark.range(1).select(*cols) for cols in layouts]
    l = rows[0]
    for fr in rows[1:]:
        l = l.unionByName(fr)
    g = l.select(
        "bands",
        "rows_per_band",
        F.explode(F.array(*[F.lit(s) for s in _LSH_SIM_GRID])).alias("sim_pct"),
    )
    p = (
        F.lit(1)
        - F.pow(
            F.lit(1)
            - F.pow(
                F.col("sim_pct").cast("double") / 100,
                F.col("rows_per_band").cast("double"),
            ),
            F.col("bands").cast("double"),
        )
    )
    return g.select(
        "bands",
        "rows_per_band",
        "sim_pct",
        F.round(p * 1_000_000, 0).cast("bigint").alias("p_candidate_micro"),
    ).orderBy("bands", "rows_per_band", "sim_pct")


def _near_dup_rate_oracle() -> str:
    jac = (
        "CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) / "
        "(len(s1.shingles) + len(s2.shingles)"
        " - len(list_intersect(s1.shingles, s2.shingles)))"
    )
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.doc_id_1, c.doc_id_2
      FROM cand c
      JOIN sh s1 ON c.doc_id_1 = s1.doc_id
      JOIN sh s2 ON c.doc_id_2 = s2.doc_id
      WHERE {jac} >= {JACCARD_THRESHOLD}),
    dup_docs AS (
      SELECT doc_id_1 AS doc_id FROM ver
      UNION SELECT doc_id_2 FROM ver),
    j AS (
      SELECT d.source,
             CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS near_dup_docs,
           CAST(round(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             * 1000000000, 0) AS BIGINT) AS near_dup_ticks
    FROM j GROUP BY source ORDER BY source
    """


@register("near_dup_rate_by_source", oracle=_near_dup_rate_oracle())
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate exposure per source: the share of each source's
    documents appearing in at least one verified (capped-LSH +
    exact-Jaccard) near-dup pair — the fuzzy companion to
    dup_rate_by_source's exact-fingerprint rate, and the per-feed KPI
    a crawl team is actually judged on.

    Scale: rides the existing capped candidate/verify pipeline
    (bounded fan-out), collapses pairs to a DISTINCT doc set, and
    marks membership with a key-on-key LEFT join back onto documents
    (hint-free — the dup set is corpus-dependent; AQE sizes it).
    """
    sh_arr = _shingle_array_df(spark, sf_dir)
    cand = _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP)
    s1 = sh_arr.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shingles").alias("sh_1")
    )
    s2 = sh_arr.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shingles").alias("sh_2")
    )
    n_inter = F.size(F.array_intersect("sh_1", "sh_2"))
    jac = n_inter.cast("double") / (
        F.size("sh_1") + F.size("sh_2") - n_inter
    )
    ver = (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_id_1", "doc_id_2")
    )
    # one explode instead of a two-leg union: the union form re-ran the
    # whole candidate/verify pipeline once PER COLUMN (r11,
    # plan-verified — no exchange reuse across the legs); exploding
    # both endpoints from the single verified-pair frame is
    # value-identical and computes it once.
    dup_docs = (
        ver.select(
            F.explode(F.array("doc_id_1", "doc_id_2")).alias("doc_id")
        )
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    d = load_table(spark, sf_dir, "documents")
    j = d.join(dup_docs, "doc_id", "left").select(
        "source", F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("near_dup_docs"),
            F.round(
                F.sum("is_dup").cast("double")
                / F.count(F.lit(1)).cast("double")
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("near_dup_ticks"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Measured LSH recall by true-Jaccard band (empirical tuning audit)
# ---------------------------------------------------------------------------

#: Deterministic evaluation sample: docs with doc_id % MOD == 0. Bounds
#: the exact-Jaccard truth join to a constant fraction of the corpus.
_RECALL_MOD = 2


def _lsh_recall_oracle() -> str:
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
      WHERE a.doc_id % {_RECALL_MOD} = 0 AND b.doc_id % {_RECALL_MOD} = 0),
    sx AS (SELECT doc_id, shingles FROM sh WHERE doc_id % {_RECALL_MOD} = 0),
    exs AS (SELECT doc_id, unnest(shingles) AS shingle FROM sx),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sx),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM exs a JOIN exs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT i.d1, i.d2,
             CAST(i.n_inter AS DOUBLE) / (s1.n_sh + s2.n_sh - i.n_inter) AS j
      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                   JOIN sizes s2 ON i.d2 = s2.doc_id
      WHERE CAST(i.n_inter AS DOUBLE)
            / (s1.n_sh + s2.n_sh - i.n_inter) >= {JACCARD_THRESHOLD}),
    flag AS (
      SELECT LEAST(9, CAST(floor(t.j * 10) AS BIGINT)) AS j_band,
             CASE WHEN c.d1 IS NULL THEN 0 ELSE 1 END AS caught
      FROM truth t LEFT JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2)
    SELECT j_band, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(round(CAST(SUM(caught) AS DOUBLE) / COUNT(*) * 1000000, 0)
             AS BIGINT) AS recall_micro
    FROM flag GROUP BY j_band ORDER BY j_band
    """


@register("lsh_recall_by_band", oracle=_lsh_recall_oracle())
def lsh_recall_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the production capped-LSH candidate pipeline
    against exact Jaccard truth, bucketed by true similarity — the
    empirical validation of lsh_tuning_curve's theoretical S-curve
    (theory says band-4×4 catches j≥0.5 pairs with p≥0.94; this is the
    query that checks the deployed pipeline actually does, including
    what the hot-bucket cap costs).

    Scale: the exact-Jaccard truth join is the known-quadratic
    verification shape, so it runs on a DETERMINISTIC 1/{_RECALL_MOD}
    doc sample (doc_id % {_RECALL_MOD} — mirrored in the oracle;
    recall is a per-pair property, so a doc sample estimates it
    unbiasedly within similarity bands). Candidates come from the SAME
    capped band join production uses (cap applied corpus-wide, THEN
    restricted to the sample — measuring the pipeline as deployed).
    One left join flags caught pairs; the readout is a ≤10-row rollup.
    """
    from pyspark.sql import Window as W

    sh = _shingle_df(spark, sf_dir)
    cand = (
        _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP)
        .filter(
            (F.col("doc_id_1") % _RECALL_MOD == 0)
            & (F.col("doc_id_2") % _RECALL_MOD == 0)
        )
        .select(
            F.col("doc_id_1").alias("d1"),
            F.col("doc_id_2").alias("d2"),
            F.lit(1).alias("caught"),
        )
    )
    sx = sh.filter(F.col("doc_id") % _RECALL_MOD == 0).localCheckpoint()
    sizes = sx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sx.select(F.col("doc_id").alias("d1"), "shingle")
    b = sx.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    j = F.col("n_inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_inter")
    )
    truth = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("j", j)
        .filter(F.col("j") >= JACCARD_THRESHOLD)
    )
    flag = truth.join(cand, ["d1", "d2"], "left").select(
        F.least(F.lit(9), F.floor(F.col("j") * 10).cast("bigint")).alias("j_band"),
        F.coalesce(F.col("caught"), F.lit(0)).alias("caught"),
    )
    return (
        flag.groupBy("j_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum("caught").cast("bigint").alias("n_caught"),
            F.round(
                F.sum("caught").cast("double") / F.count(F.lit(1)) * 1_000_000,
                0,
            ).cast("bigint").alias("recall_micro"),
        )
        .orderBy("j_band")
    )


# ---------------------------------------------------------------------------
# MinHash-estimate calibration vs exact Jaccard on candidate pairs
# ---------------------------------------------------------------------------

def _mh_calibration_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    est_ticks = 1_000_000 // MINHASH_K
    jac = (
        "CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) / "
        "(len(s1.shingles) + len(s2.shingles)"
        " - len(list_intersect(s1.shingles, s2.shingles)))"
    )
    return rf"""
    WITH {_bands_cte()},
    {_SQL_CAPPED_BUCKETS},
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
    scored AS (
      SELECT c.d1, c.d2, ({agree}) * {est_ticks} AS est_micro,
             {jac} AS j
      FROM cand c
      JOIN sig sa ON c.d1 = sa.doc_id
      JOIN sig sb ON c.d2 = sb.doc_id
      JOIN sh s1 ON c.d1 = s1.doc_id
      JOIN sh s2 ON c.d2 = s2.doc_id)
    SELECT LEAST(9, CAST(floor(j * 10) AS BIGINT)) AS j_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(est_micro) AS BIGINT) AS sum_est_micro,
           CAST(SUM(CAST(round(abs(est_micro - j * 1000000), 0) AS BIGINT))
             AS BIGINT) AS sum_abs_err_micro
    FROM scored GROUP BY j_band ORDER BY j_band
    """


@register("minhash_estimate_calibration", oracle=_mh_calibration_oracle())
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the {MINHASH_K}-component MinHash Jaccard
    ESTIMATOR against exact Jaccard on the production candidate pairs:
    per true-similarity band, pair volume, summed estimate mass, and
    summed absolute error — the "can I trust signature agreement as a
    score, or must I always verify with shingles" readout (expected
    estimator σ at k={MINHASH_K} is √(j(1−j)/{MINHASH_K}) ≈ 0.12 at
    j=0.5; this measures it on THIS corpus).

    Scale: candidates come from the capped band join (bounded fan-out);
    signature agreement is a {MINHASH_K}-term integer sum over the two
    broadcast-joined signature rows — estimates are EXACT integer
    micro-units (1e6/{MINHASH_K} per agreeing component), so the
    per-band sums are order-free int64; exact Jaccard runs only on the
    candidate set (the verified-pairs discipline), and the error term
    quantizes per pair before summing.
    """
    # ONE tokenize→shingle corpus pass (checkpointed) feeds everything:
    # signatures, the banded candidate pipeline, the exploded exact-
    # Jaccard legs, and the set sizes. Previously sig / cand / each sh
    # leg / sizes each re-ran the pass from the scan (~5 corpus scans,
    # plan-verified; r11).
    arr = _shingle_array_df(spark, sf_dir).localCheckpoint()
    sig = signature_from_arrays(arr).localCheckpoint()
    sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
    # |shingle set| = size of the DISTINCT shingle array — a narrow
    # per-doc expression on the un-exploded grain, identical to the
    # former explode + groupBy count but with zero exchange (r11).
    sizes = arr.select("doc_id", F.size("shingles").alias("n_sh"))
    # the banded-LSH candidate pipeline feeds BOTH the signature-score
    # leg and the exact-Jaccard leg; without the checkpoint each leg
    # re-ran the whole band self-join (no exchange reuse fires across
    # the differing downstream joins — r11, plan-verified).
    cand = (
        _lsh_candidate_pairs(spark, sf_dir, cap=LSH_BUCKET_CAP, bands=bands_from_sig(sig))
        .select(F.col("doc_id_1").alias("d1"), F.col("doc_id_2").alias("d2"))
        .localCheckpoint()
    )
    sa = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(MINHASH_K)],
    )
    est_ticks = 1_000_000 // MINHASH_K
    agree = None
    for i in range(MINHASH_K):
        t = F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        agree = t if agree is None else (agree + t)
    # exact Jaccard on candidates only (the verified-pairs discipline)
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        cand.join(a, "d1")
        .join(b, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    j = F.col("n_inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_inter")
    )
    scored = (
        cand.join(sa, "d1")
        .join(sb, "d2")
        .select("d1", "d2", (agree * est_ticks).alias("est_micro"))
        .join(inter, ["d1", "d2"], "left")
        .join(s1, "d1")
        .join(s2, "d2")
        .withColumn("j", F.coalesce(j, F.lit(0.0)))
    )
    return (
        scored.groupBy(
            F.least(F.lit(9), F.floor(F.col("j") * 10).cast("bigint")).alias(
                "j_band"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("est_micro").cast("bigint").alias("sum_est_micro"),
            F.sum(
                F.round(
                    F.abs(F.col("est_micro") - F.col("j") * 1_000_000), 0
                ).cast("bigint")
            ).cast("bigint").alias("sum_abs_err_micro"),
        )
        .orderBy("j_band")
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (hashed suffix-window, Lee et al. 2022 tier)
# ---------------------------------------------------------------------------

#: Tokens per suffix window. Every stride-1 window of this length is
#: hashed; a window seen in >= SUBSTR_DF distinct documents marks a
#: duplicated SPAN (the pretraining tier between line dedup's coarse
#: fixed blocks and MinHash's whole-doc similarity — Lee et al.,
#: "Deduplicating Training Data Makes Language Models Better", use
#: suffix arrays for the same semantics; hashed stride-1 windows are
#: the standard distributed approximation).
SUBSTR_W = 12

#: A window in >= this many DISTINCT documents is a duplicated span.
SUBSTR_DF = 2

_SUBSTR_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents WHERE text IS NOT NULL),
    win AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ts[(i+1):(i+{SUBSTR_W})], ' ')) AS h
      FROM toks, UNNEST(range(CAST(len(ts) - {SUBSTR_W} + 1 AS BIGINT))) AS u(i)
      WHERE len(ts) >= {SUBSTR_W}),
    freq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM win GROUP BY h),
    tagged AS (
      SELECT w.doc_id, w.pos, (f.df >= {SUBSTR_DF}) AS dup
      FROM win w JOIN freq f USING (h)),
    runs AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tagged WHERE dup),
    islands AS (
      SELECT doc_id, COUNT(*) AS run_len FROM runs GROUP BY doc_id, grp),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
      FROM tagged GROUP BY doc_id),
    spans AS (SELECT doc_id, MAX(run_len) AS max_run FROM islands GROUP BY doc_id)
    SELECT p.doc_id, p.n_windows, p.n_dup_windows,
           CAST(CASE WHEN s.max_run IS NULL THEN 0
                     ELSE s.max_run + {SUBSTR_W} - 1 END AS BIGINT)
             AS max_dup_span_tokens,
           CAST(p.n_dup_windows * 1000000 // p.n_windows AS BIGINT)
             AS dup_window_ppm,
           CAST(CASE WHEN p.n_dup_windows * 2 >= p.n_windows THEN 1 ELSE 0 END
                AS BIGINT) AS drop_candidate
    FROM per_doc p LEFT JOIN spans s ON p.doc_id = s.doc_id
    ORDER BY p.doc_id
    """


def _doc_windows(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): every stride-1 SUBSTR_W-token window's 64-bit
    digest, built with a narrow transform + ONE posexplode (no token
    explode, no window-string shuffle — only 8-byte digests move).

    Docs shorter than SUBSTR_W tokens have no window and are excluded
    (mirrored by the oracle's ``len(ts) >= W`` guard)."""
    ts = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    docs = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") >= SUBSTR_W)
    )
    win_arr = F.transform(
        F.sequence(F.lit(0), F.size("ts") - SUBSTR_W),
        lambda i: F.xxhash64(F.array_join(F.slice("ts", i + 1, SUBSTR_W), " ")),
    )
    return docs.select("doc_id", F.posexplode(win_arr).alias("pos", "h"))


def _substring_span_report(tagged: DataFrame) -> DataFrame:
    """Per-doc rollup of a (doc_id, pos, dup) frame: window counts, the
    longest duplicated RUN folded from the sorted duplicated positions
    (a pure expression — per-doc state bounded by doc length, no second
    window shuffle), ppm rate and the drop verdict."""
    agg = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.count(F.when(F.col("dup"), 1)).cast("bigint").alias("n_dup_windows"),
        F.array_sort(
            F.collect_list(F.when(F.col("dup"), F.col("pos")))
        ).alias("dup_pos"),
    )
    max_run = F.aggregate(
        F.col("dup_pos"),
        F.struct(
            F.lit(0).alias("best"), F.lit(0).alias("cur"), F.lit(-2).alias("prev")
        ),
        lambda acc, p: F.struct(
            F.greatest(
                acc["best"],
                F.when(p == acc["prev"] + 1, acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(p == acc["prev"] + 1, acc["cur"] + 1)
            .otherwise(F.lit(1))
            .alias("cur"),
            p.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    return (
        agg.select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.when(max_run > 0, max_run + SUBSTR_W - 1)
            .otherwise(0)
            .cast("bigint")
            .alias("max_dup_span_tokens"),
            F.expr("n_dup_windows * 1000000 DIV n_windows").alias(
                "dup_window_ppm"
            ),
            (F.col("n_dup_windows") * 2 >= F.col("n_windows"))
            .cast("bigint")
            .alias("drop_candidate"),
        )
        .orderBy("doc_id")
    )


@register("substring_dup_spans", oracle=_SUBSTR_ORACLE)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the missing pretraining tier between
    line dedup and MinHash): every stride-1 SUBSTR_W-token window is
    hashed; windows seen in >= SUBSTR_DF distinct docs mark duplicated
    spans. Per doc: window counts, the LONGEST duplicated span in
    tokens (consecutive duplicated windows w..w+k cover k + W - 1
    tokens), integer-ppm dup rate, and a drop verdict (>= half the
    windows duplicated). The reference (balyuv/ai-etl-studio) has no
    text pipeline; this is driver-directed extension surface.

    Scale (the fan-out bound, cf. LSH_BUCKET_CAP): stride-1 windows are
    Sum(n_i - W + 1) <= corpus token count — LINEAR in the corpus, the
    same row count every token-grain op here already carries; pairs are
    NEVER materialized (a boilerplate window shared by millions of docs
    fans into the one-row-per-digest freq side only). The frequency agg
    groups on the 8-byte xxhash64 digest, not the window text; the
    longest-run scan is a per-doc fold over sorted positions inside one
    groupBy — no second shuffle, no window function. Both engines hash
    independently (xxhash64 vs md5) — equal windows collide to equal
    digests within each engine, so the df counts agree.
    """
    d = load_table(spark, sf_dir, "documents")
    # ONE pinned digest exchange feeds BOTH consumers (r12, §2.4): the
    # frequency aggregation and the tag join each need win clustered by
    # h, but their differing column pruning built two distinct
    # exchanges — i.e. the whole tokenize→hash window chain ran TWICE.
    # An explicit repartition(h) makes both downstream ops exchange-
    # free readers of one shuffle (paired N=3: 3.5 -> 2.4 s, values
    # identical; same two-consumer shape at any scale).
    win = _doc_windows(d).repartition(
        spark.sparkContext.defaultParallelism, "h"
    )
    freq = win.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    tagged = win.join(freq, "h").select(
        "doc_id", "pos", (F.col("df") >= SUBSTR_DF).alias("dup")
    )
    return _substring_span_report(tagged)


def ensure_substring_index(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> str:
    """Build-once the corpus's duplicated-window digest set (xxhash64 of
    every SUBSTR_W-token window in >= SUBSTR_DF distinct docs) as a
    parquet table; later sessions re-register the files. The production
    split: the corpus-wide frequency pass runs once per snapshot, then
    every ingest batch tags its own spans with one membership join —
    cost scales with the batch, not the corpus."""
    tbl, path = layout_ident(
        "substr_win", sf_dir, ("documents",), (SUBSTR_W, SUBSTR_DF), base_dir
    )
    build_once(
        spark,
        path,
        lambda: _doc_windows(load_table(spark, sf_dir, "documents"))
        .groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= SUBSTR_DF)
        .select("h")
        .coalesce(1),
        table=tbl,
        columns="h BIGINT",
    )
    return tbl


@register(
    "substring_dedup_from_index",
    # identical contract to substring_dup_spans -> same oracle (the
    # index only changes the PLAN: membership join replaces the
    # corpus-wide frequency aggregation)
    oracle=_SUBSTR_ORACLE,
)
def substring_dedup_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``substring_dup_spans`` served from the persisted duplicated-
    window index: the countDistinct shuffle over every window is
    REPLACED by one membership hash join against the build-once digest
    table — the incremental-ingest shape at 100 TB. The join is
    hint-free: the duplicated-window set is normally small (AQE
    broadcasts it) but grows with corpus breadth, so forcing a
    broadcast would pin an unbounded artifact in every executor
    (SCALE.md "Broadcast budget")."""
    tbl = ensure_substring_index(spark, sf_dir)
    idx = spark.table(tbl).withColumn("is_dup", F.lit(1))
    d = load_table(spark, sf_dir, "documents")
    tagged = _doc_windows(d).join(idx, "h", "left").select(
        "doc_id", "pos", F.col("is_dup").isNotNull().alias("dup")
    )
    return _substring_span_report(tagged)


# ---------------------------------------------------------------------------
# Blocking-scheme quality eval (reduction ratio vs pair completeness)
# ---------------------------------------------------------------------------

#: Deterministic truth sample for the quadratic edit-distance stage
#: (r5 perf pass: 4 -> 8; the truth-pair count scales with 1/MOD²).
_BQ_MOD = 8

#: Hard truth-sample bound (the similarity._ID_SAMPLE_CAP device): the
#: MOD fraction alone is catalog-proportional — (N/MOD)² pairs grows
#: quadratically with SF — so the sample ALSO requires
#: p_partkey < _BQ_CAP, capping the levenshtein stage at (CAP/MOD)²/2
#: pairs at EVERY scale. Covers every test SF entirely (part tops out
#: at 20k keys at sf0.1 — results unchanged); at 100 TB the truth
#: probe is the first CAP keys, a fixed-size calibration sample.
_BQ_CAP = 32768


def _blocking_quality_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    cand = ORACLES["er_blocked_pairs"].rsplit(" ORDER BY ", 1)[0]
    return f"""
    WITH cand AS ({cand}),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part),
    ncand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
    s AS (SELECT p_partkey, p_name FROM part
          WHERE p_partkey % {_BQ_MOD} = 0 AND p_partkey < {_BQ_CAP}),
    truth AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
      FROM s a JOIN s b ON a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= {ER_DIST}),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
    hit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM truth t JOIN cand c ON c.key_a = t.key_a AND c.key_b = t.key_b)
    SELECT np.n_parts, ncand.n_cand,
           CAST(1000000 - ncand.n_cand * 1000000
                // (np.n_parts * (np.n_parts - 1) // 2) AS BIGINT) AS rr_ppm,
           nt.n_truth, hit.n_hit,
           CAST(CASE WHEN nt.n_truth = 0 THEN 1000000
                ELSE hit.n_hit * 1000000 // nt.n_truth END AS BIGINT)
             AS pc_ppm
    FROM np, ncand, nt, hit
    """


@register("blocking_quality_eval", oracle=_blocking_quality_oracle())
def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED quality of the er_blocked_pairs blocking scheme — the
    two numbers every record-linkage design is judged on: REDUCTION
    RATIO (share of the N²/2 pair space the blocks never generate) and
    PAIR COMPLETENESS (share of true edit-distance-≤{ER_DIST} pairs the
    blocks recover, on a deterministic 1/{_BQ_MOD} key sample where the
    quadratic truth is affordable — the lsh_recall_by_band pattern
    applied to entity resolution). High RR with low PC means the
    blocking key is too aggressive; the oracle composes the REGISTERED
    er_blocked_pairs text so the eval can never drift from the scheme
    it audits.

    Scale: the candidate count rides the production capped-block
    pipeline; the truth stage is sample×sample through the block-free
    join but HARD-bounded to ({_BQ_CAP}/{_BQ_MOD})²/2 pairs by the
    MOD+key-cap sample (a bare MOD fraction would be (N/{_BQ_MOD})² —
    catalog-quadratic); both ratios are exact integer ppm floor
    divisions.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # both ratio legs read the candidate set (volume + semi-join hits)
    # and both truth legs read the sampled quadratic truth set; without
    # the checkpoints each leg re-ran its full producer — the capped
    # blocking pipeline twice and the levenshtein nested-loop twice
    # (r11, plan-verified: zero exchange reuse across the legs).
    cand = er_blocked_pairs(spark, sf_dir).select(
        "key_a", "key_b"
    ).localCheckpoint()
    n_parts = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    s = p.filter(
        (F.col("p_partkey") % _BQ_MOD == 0) & (F.col("p_partkey") < _BQ_CAP)
    )
    # The truth stage is a BroadcastNestedLoopJoin: parallelism = the
    # STREAM side's partition count, and the filtered sample collapses
    # to 1-2 scan partitions — one task was doing all (CAP/MOD)²/2
    # levenshteins (~3M at sf0.1, measured as the query's dominant
    # stage). Spreading the bounded sample over the session's shuffle
    # partitions parallelizes the quadratic stage without changing the
    # pair set (r11, guide §2.6 idle-capacity).
    a = s.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("na")
    ).repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    b = s.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("nb"))
    truth = a.join(b, F.col("key_a") < F.col("key_b")).filter(
        F.levenshtein(F.col("na"), F.col("nb")) <= ER_DIST
    ).select("key_a", "key_b").localCheckpoint()
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_hit = truth.join(cand, ["key_a", "key_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        n_parts.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_parts",
            "n_cand",
            F.expr(
                "1000000 - n_cand * 1000000 DIV"
                " (n_parts * (n_parts - 1) DIV 2)"
            ).alias("rr_ppm"),
            "n_truth",
            "n_hit",
            F.when(F.col("n_truth") == 0, F.lit(1000000))
            .otherwise(F.expr("n_hit * 1000000 DIV n_truth"))
            .cast("bigint")
            .alias("pc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span token coverage by source (the dedup budget readout)
# ---------------------------------------------------------------------------

@register(
    "substring_dup_share_by_source",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents WHERE text IS NOT NULL),
    win AS (
      SELECT doc_id, source, i AS pos, len(ts) AS n_tok,
             md5(array_to_string(ts[(i+1):(i+{SUBSTR_W})], ' ')) AS h
      FROM toks, UNNEST(range(CAST(len(ts) - {SUBSTR_W} + 1 AS BIGINT))) AS u(i)
      WHERE len(ts) >= {SUBSTR_W}),
    freq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM win GROUP BY h),
    dup AS (
      SELECT w.doc_id, w.source, w.n_tok, w.pos
      FROM win w JOIN freq f USING (h) WHERE f.df >= {SUBSTR_DF}),
    contrib AS (
      SELECT doc_id,
             COALESCE(LEAST({SUBSTR_W},
               pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)),
               {SUBSTR_W}) AS covered
      FROM dup),
    per_doc AS (
      SELECT d.doc_id, MAX(d.source) AS source, MAX(d.n_tok) AS n_tok,
             CAST(COALESCE(SUM(c.covered), 0) AS BIGINT) AS covered
      FROM (SELECT DISTINCT doc_id, source, n_tok FROM win) d
      LEFT JOIN contrib c ON c.doc_id = d.doc_id
      GROUP BY d.doc_id)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           CAST(SUM(covered) * 1000000 // SUM(n_tok) AS BIGINT)
             AS coverage_ppm
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def substring_dup_share_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup BUDGET readout per feed: what share of each source's
    tokens sits inside cross-document duplicated {SUBSTR_W}-token
    spans — the exact UNION of the duplicated windows: each sorted
    duplicated position contributes min(W, gap-to-previous) new
    tokens, so overlapping islands are never double-counted and
    coverage_ppm is a true share (≤ 1,000,000). A feed
    with high coverage shrinks a lot under substring dedup; near-zero
    coverage says skip the expensive pass for that feed — the
    source-grain companion of substring_dup_spans' per-doc report.

    Scale: rides the same linear window pipeline (Σ windows ≤ corpus
    tokens, pairs never materialize); the island union is computed in
    the per-doc fold / gaps-and-islands grouping, and the rollup is
    |sources| rows. Docs shorter than W tokens carry no window and are
    excluded in both engines (documented in substring_dup_spans).
    """
    d = load_table(spark, sf_dir, "documents")
    # one pinned digest exchange for both consumers — see
    # substring_dup_spans (r12, §2.4)
    win = _doc_windows(d).repartition(
        spark.sparkContext.defaultParallelism, "h"
    )
    freq = win.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    # per-doc sorted duplicated positions -> UNION coverage via a fold:
    # each position's window [p, p+W-1] adds min(W, p - prev) NEW
    # tokens beyond the previous window's coverage — this is exact for
    # every gap (continuation gap 1 adds 1; a gap g in 2..W-1 adds g,
    # the two windows OVERLAP; gap >= W adds the full W). prev starts
    # at -W so the first position adds W. (The r5 fold added a full W
    # for every new island and double-counted overlapping islands —
    # the ADVICE r5 finding; LAG-based twin in the oracle.)
    tagged = win.join(freq, "h").select(
        "doc_id", "pos", (F.col("df") >= SUBSTR_DF).alias("dup")
    )
    per_doc = tagged.groupBy("doc_id").agg(
        (F.count(F.lit(1)) + SUBSTR_W - 1).cast("bigint").alias("n_tok"),
        F.array_sort(
            F.collect_list(F.when(F.col("dup"), F.col("pos")))
        ).alias("dup_pos"),
    )
    covered = F.aggregate(
        F.col("dup_pos"),
        F.struct(
            F.lit(0).cast("bigint").alias("cov"),
            F.lit(-SUBSTR_W).alias("prev"),
        ),
        lambda acc, p: F.struct(
            (
                acc["cov"]
                + F.least(
                    F.lit(SUBSTR_W).cast("bigint"),
                    (p - acc["prev"]).cast("bigint"),
                )
            ).alias("cov"),
            p.alias("prev"),
        ),
        lambda acc: acc["cov"],
    )
    src = d.select("doc_id", "source")
    return (
        per_doc.select("doc_id", "n_tok", covered.alias("covered"))
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("covered").cast("bigint").alias("covered_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "covered_tokens",
            F.expr("covered_tokens * 1000000 DIV total_tokens").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("source")
    )
