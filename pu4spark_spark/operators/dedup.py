"""Deduplication operators for LLM-data pipelines (north-star extension,
SURVEY.md §2B): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — every variant oracle-checkable because all
hashing goes through md5 (identical in Spark and DuckDB; see
:mod:`pu4spark_spark.functions.textfns`).

Scale design (100 TB):
- exact dedup = one hash-partitioned groupBy on the content hash — the
  only shuffle, map-side combined;
- MinHash signatures/bands are computed array-native per row (no
  shuffle, whole-stage codegen), then ONE shuffle on the band key joins
  candidates; verification joins fetch only candidate docs' shingle
  sets.  This is the classic shingle→minhash→band→bucket-join pipeline;
  cost is O(candidates), never O(n²);
- SimHash reduces each doc to a 64-bit fingerprint with per-row array
  aggregates (zero shuffle); near-dup lookup becomes an equi-join on
  32-bit bands (two per doc) whose key cardinality grows with
  fingerprint width — again never O(n²);
- n-gram Jaccard reuses the MinHash band keys for candidate
  generation (one shuffle, O(candidates)) and verifies exact 3-gram
  Jaccard only on candidate pairs — no fixed-cardinality blocking, so
  per-task work stays bounded as the corpus grows;
- embedding near-dup quantizes floats to exact integers
  (``floor(x·1000)``) so dot products are associative integer sums —
  partition-order independent AND engine-exact; pairing is generated by
  a sign-pattern LSH bucket whose bit-width (and therefore bucket
  count) grows with the corpus, never by a fixed-cardinality column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pu4spark_spark.functions.textfns import (
    SLICE_OFFSETS,
    SLICES_PER_MD5,
    jaccard_sets,
    sql_jaccard_sets,
    sql_minhash_component_sliced,
    sql_word_shingles,
    tokens,
    word_shingles,
)
from pu4spark_spark.sources import load_table

# -- generic exact dedup -------------------------------------------------

def dedup_keep_first(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Keep the first row per key under a deterministic order — the
    row_number()==1 idiom (SURVEY.md §2B north-star row)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup over documents: one group per distinct content
    hash, keeping the smallest doc_id."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SQL_DEDUP_EXACT_DOCS = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def q_dedup_events_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup at event granularity: first event per
    (user_id, event_type) by time."""
    events = load_table(spark, "events", sf_dir)
    first = dedup_keep_first(
        events, ["user_id", "event_type"], [F.asc("ts"), F.asc("event_id")]
    )
    return first.select("user_id", "event_type", F.col("event_id").alias("first_event_id"))


SQL_DEDUP_EVENTS_FIRST = """
SELECT user_id, event_type, event_id AS first_event_id
FROM (SELECT user_id, event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events)
WHERE rn = 1
"""


# -- MinHash + LSH near-dup ---------------------------------------------

N_HASHES = 8
BAND_R = 2  # rows per band → 4 bands
JACCARD_THRESHOLD = 0.5

_SH_SQL = sql_word_shingles("text")


def _doc_shingle_sets(
    spark: SparkSession, sf_dir: str, nonempty: bool = False
) -> DataFrame:
    from pu4spark_spark.plans import spread

    docs = spread(load_table(spark, "documents", sf_dir))
    # stage the token array as its own projection: word_shingles'
    # per-gram lambda does element_at(tok) per element, and an inlined
    # split() would be re-evaluated on EVERY access (interpreted HOF
    # lambdas get no common-subexpression elimination) — measured 16×
    # slower at sf0.1
    toked = docs.select("doc_id", "lang", tokens("text").alias("__t"))
    # ``nonempty`` drops docs too short to shingle HERE, on the cheap
    # equivalent predicate: sh = array_distinct(word_shingles(__t)) is
    # non-empty iff size(__t) >= 3.  A downstream
    # ``.filter(size(sh) > 0)`` looks identical but is a scale trap:
    # Catalyst pushes filters through the round-robin Repartition, and
    # the pushed predicate drags the ENTIRE interpreted shingle chain
    # below the exchange — evaluated in the scan stage's task count
    # (ONE task on a single-file corpus; measured 4.2 s vs 0.3 s at
    # sf0.1).  The token-count form costs one split() per row at scan.
    if nonempty:
        toked = toked.filter(F.size("__t") >= 3)
    return toked.select(
        "doc_id",
        "lang",
        F.array_distinct(word_shingles(F.col("__t"))).alias("sh"),
    )


def minhash_bands(df: DataFrame, shingle_col: str = "sh") -> DataFrame:
    """doc_id → (band_pos, band_hash), 4 rows per doc.  The band hash
    compresses BAND_R signature components so bucket equality ⇒ those
    components all collide.

    Execution shape: explode shingles → md5 per (seed, shingle) in a
    codegen projection → ONE map-side-combined groupBy(doc_id) taking
    the 8 slice-minima (min over an 8-hex-char substring per seed —
    the sliced minhash family of
    :func:`minhash_component_sliced`: 2 md5 digests per shingle yield
    8 components).  Everything runs inside whole-stage codegen; the
    round-2 version computed the same minima with per-row
    ``array_min(transform(...))`` lambdas, which are CodegenFallback
    and interpreted per element — the dominant cost of every
    MinHash-based query.  The groupBy exchange carries one pre-reduced
    8-component row per doc (output-sized, not shingle-sized), and the
    explode never repartitions, so map-side combine is total.

    Docs with an EMPTY shingle set (< n tokens) vanish at the explode.
    This is output-equivalent to the previous all-NULL-component
    behavior: such docs' candidate pairs always carried Jaccard 0/0 =
    NULL and were rejected by every ≥-threshold verify in both
    engines; now they are simply never candidates.
    """
    return bands_from_signatures(minhash_signatures(df, shingle_col))


def bands_from_signatures(sigs: DataFrame) -> DataFrame:
    """Signature components → (band_pos, band_hash) rows (band hash =
    md5 over the band's components, band index salted in)."""
    cols = [F.col(c) for c in SIGNATURE_COLS]
    bands = [
        F.md5(
            F.concat_ws(":", F.lit(str(b)), *cols[b * BAND_R : (b + 1) * BAND_R])
        )
        for b in range(N_HASHES // BAND_R)
    ]
    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*bands)).alias("band_pos", "band_hash"),
    )


def band_self_join_candidates(bands: DataFrame) -> DataFrame:
    """Ordered candidate pairs ``(a_id, b_id)`` from a band table's
    self-equi-join on ``(band_pos, band_hash)`` with ``a_id < b_id`` —
    the ONE canonical LSH candidate join every banded dedup variant
    uses (a bug fix or key change here reaches all of them).  The
    ``distinct()`` collapses pairs sharing several bands; the join is
    co-partitioned after one shuffle of the band table, never a
    corpus×corpus product."""
    left = bands.alias("a")
    right = bands.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_pos") == F.col("b.band_pos"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )


#: the 8 signature-component column names, in band order
SIGNATURE_COLS = [
    f"__m{k}_{off}"
    for k in range(N_HASHES // SLICES_PER_MD5)
    for off in SLICE_OFFSETS
]


def minhash_signatures(df: DataFrame, shingle_col: str = "sh") -> DataFrame:
    """doc_id → the 8 sliced-minhash signature components (the table
    :func:`minhash_bands` compresses into band keys) — same codegen
    explode → map-side-combined groupBy shape, exposed so estimators
    can compare raw components."""
    n_seeds = N_HASHES // SLICES_PER_MD5
    exploded = df.select("doc_id", F.explode(shingle_col).alias("__s"))
    hashed = exploded.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{k}:"), F.col("__s"))).alias(f"__h{k}")
            for k in range(n_seeds)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col(f"__h{k}"), off, 8)).alias(f"__m{k}_{off}")
            for k in range(n_seeds)
            for off in SLICE_OFFSETS
        ]
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: MinHash-LSH candidates (any shared band) verified
    with exact shingle-set Jaccard ≥ 0.5."""
    from pu4spark_spark.plans import cached

    # the shingle-set table feeds three consumers (band explode + both
    # verify joins) — persist it once instead of re-shingling per use
    base = cached(_doc_shingle_sets(spark, sf_dir))
    bands = cached(minhash_bands(base))
    cand = band_self_join_candidates(bands)
    sa = base.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", jaccard_sets(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )


def _sql_minhash_bands() -> str:
    sigs = [
        sql_minhash_component_sliced("sh", k, off)
        for k in range(N_HASHES // SLICES_PER_MD5)
        for off in SLICE_OFFSETS
    ]
    bands = ", ".join(
        "md5("
        + " || ':' || ".join([f"'{b}'"] + sigs[b * BAND_R : (b + 1) * BAND_R])
        + f") AS band{b}"
        for b in range(N_HASHES // BAND_R)
    )
    return bands


def _sql_minhash_pair_ctes() -> str:
    """CTE chain ending in ``pairs`` (verified near-dup pairs) — shared
    by the pair query and the cluster query's recursive closure."""
    return f"""base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh, {_sql_minhash_bands()} FROM base
),
bands AS (
  SELECT doc_id, u.band_pos, u.band_hash
  FROM sigs, UNNEST([
      {{'band_pos': 0, 'band_hash': band0}},
      {{'band_pos': 1, 'band_hash': band1}},
      {{'band_pos': 2, 'band_hash': band2}},
      {{'band_pos': 3, 'band_hash': band3}}]) AS t(u)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT a_id, b_id,
         {sql_jaccard_sets('sa.sh', 'sb.sh')} AS jaccard
  FROM cand
  JOIN base sa ON sa.doc_id = a_id
  JOIN base sb ON sb.doc_id = b_id
  WHERE {sql_jaccard_sets('sa.sh', 'sb.sh')} >= {JACCARD_THRESHOLD}
)"""


SQL_DEDUP_MINHASH = f"""
WITH {_sql_minhash_pair_ctes()}
SELECT a_id, b_id, jaccard FROM pairs
"""


# -- sketch-accuracy evaluation ------------------------------------------

def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy eval (the dedup twin of
    ``ann_lsh_recall``): for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (matching components / 8)
    beside the exact shingle-set Jaccard — the number that tells you
    whether the sketch width is adequate before trusting it at scale.

    Both columns are exact small-integer ratios (n/8 and the set
    ratio), so the eval itself is oracle-checkable.  The signature
    table is computed ONCE (cached) and feeds both the band keys and
    the component comparison — no re-hash per consumer.
    """
    from pu4spark_spark.plans import cached

    base = cached(_doc_shingle_sets(spark, sf_dir))
    sigs = cached(minhash_signatures(base))
    bands = bands_from_signatures(sigs)
    cand = band_self_join_candidates(bands)
    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in SIGNATURE_COLS],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in SIGNATURE_COLS],
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in SIGNATURE_COLS
    )
    ja = base.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    jb = base.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("est_jaccard", matches / F.lit(float(N_HASHES)))
        .join(ja, "a_id")
        .join(jb, "b_id")
        .withColumn("jaccard", jaccard_sets(F.col("sh_a"), F.col("sh_b")))
        .select("a_id", "b_id", "est_jaccard", "jaccard")
    )


def _sql_signature_components(alias_prefix: str = "") -> str:
    from pu4spark_spark.functions.textfns import (
        SLICE_OFFSETS,
        SLICES_PER_MD5,
        sql_minhash_component_sliced,
    )

    return ", ".join(
        f"{sql_minhash_component_sliced('sh', k, off)} AS {alias_prefix}m{k}_{off}"
        for k in range(N_HASHES // SLICES_PER_MD5)
        for off in SLICE_OFFSETS
    )


def _sql_minhash_estimate() -> str:
    from pu4spark_spark.functions.textfns import SLICE_OFFSETS, SLICES_PER_MD5

    comps = [
        f"m{k}_{off}"
        for k in range(N_HASHES // SLICES_PER_MD5)
        for off in SLICE_OFFSETS
    ]
    agree = " + ".join(
        f"(CASE WHEN sa.{c} = sb.{c} THEN 1 ELSE 0 END)" for c in comps
    )
    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh, {_sql_signature_components()} FROM base
),
bsigs AS (
  SELECT doc_id, sh, {_sql_minhash_bands()} FROM base
),
bands AS (
  SELECT doc_id, u.band_pos, u.band_hash
  FROM bsigs, {_UNNEST_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       ({agree}) / {float(N_HASHES)} AS est_jaccard,
       {sql_jaccard_sets('sa.sh', 'sb.sh')} AS jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = a_id
JOIN sigs sb ON sb.doc_id = b_id
"""


# -- incremental dedup (new batch vs existing corpus) ---------------------

INCR_BATCH_MOD = 10  # every 10th doc plays the "newly arrived batch"


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without touching the
    corpus — the production shape at 100 TB, where re-deduping the full
    corpus per arrival is impossible.  Two stages, batch-sized work
    only:

    1. exact: left-anti join of the batch on the corpus content hash —
       with the corpus stored bucketed by ``md5(text)``
       (``sources/sinks.py``), a shuffle-free bucket join;
    2. near-dup: MinHash bands of the surviving batch docs equi-join
       the corpus band table (at steady state a precomputed, bucketed
       artifact — here derived in-plan), candidates verified with exact
       shingle Jaccard ≥ 0.5.

    Returns each batch doc with its admission verdict (kept /
    exact-dup / near-dup), so the caller can append `kept` rows and
    route the rest to a drop log."""
    from pu4spark_spark.plans import cached, spread

    docs = spread(load_table(spark, "documents", sf_dir))
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    toked = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("h"),
        tokens("text").alias("__t"),
    )
    # ONE cached copy of the shingle table; batch/corpus are cheap
    # filters over it.  Caching the two filtered branches separately
    # (the r7 shape) materialized the md5-shingle derivation TWICE —
    # once per cache fill — and the query's ~10 broadcast subqueries
    # then interleaved both fills concurrently (guide §2.4: share the
    # exchange/materialization, don't duplicate it).
    shingled = cached(
        toked.select(
            "doc_id",
            "lang",
            "h",
            F.array_distinct(word_shingles(F.col("__t"))).alias("sh"),
        )
    )
    batch = shingled.filter(is_batch)
    corpus = shingled.filter(~is_batch)

    exact_dup = (
        batch.join(
            corpus.select(F.col("h").alias("h")).distinct(), "h", "left_semi"
        )
        .select("doc_id")
        .withColumn("verdict", F.lit("exact_dup"))
    )
    # consumed 3× (band derivation, verify join, kept anti-join) —
    # batch-sized, so pinning it is cheap and saves two anti-join
    # recomputes
    survivors = cached(
        batch.join(corpus.select("h").distinct(), "h", "left_anti")
    )

    b_bands = minhash_bands(survivors)
    c_bands = minhash_bands(corpus)
    cand = (
        b_bands.alias("a")
        .join(
            c_bands.alias("b"),
            (F.col("a.band_pos") == F.col("b.band_pos"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("b_id"), F.col("b.doc_id").alias("c_id")
        )
        .distinct()
    )
    sa = survivors.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    sb = corpus.select(F.col("doc_id").alias("c_id"), F.col("sh").alias("sh_c"))
    near_dup = (
        cand.join(sa, "b_id")
        .join(sb, "c_id")
        .filter(jaccard_sets(F.col("sh_b"), F.col("sh_c")) >= JACCARD_THRESHOLD)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("verdict", F.lit("near_dup"))
    )
    kept = (
        survivors.join(near_dup.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id")
        .withColumn("verdict", F.lit("kept"))
    )
    return exact_dup.unionByName(near_dup).unionByName(kept)


_UNNEST_BANDS = """UNNEST([
      {'band_pos': 0, 'band_hash': band0},
      {'band_pos': 1, 'band_hash': band1},
      {'band_pos': 2, 'band_hash': band2},
      {'band_pos': 3, 'band_hash': band3}]) AS t(u)"""

SQL_DEDUP_INCREMENTAL = f"""
WITH shingled AS (
  SELECT doc_id, lang, md5(text) AS h, list_distinct({_SH_SQL}) AS sh
  FROM documents
),
batch AS (SELECT * FROM shingled WHERE doc_id % {INCR_BATCH_MOD} = 0),
corpus AS (SELECT * FROM shingled WHERE doc_id % {INCR_BATCH_MOD} <> 0),
exact_dup AS (
  SELECT doc_id, 'exact_dup' AS verdict FROM batch
  WHERE h IN (SELECT h FROM corpus)
),
survivors AS (
  SELECT * FROM batch WHERE h NOT IN (SELECT h FROM corpus)
),
b_sigs AS (SELECT doc_id, sh, {_sql_minhash_bands()} FROM survivors),
c_sigs AS (SELECT doc_id, sh, {_sql_minhash_bands()} FROM corpus),
b_bands AS (
  SELECT doc_id, u.band_pos, u.band_hash FROM b_sigs, {_UNNEST_BANDS}
),
c_bands AS (
  SELECT doc_id, u.band_pos, u.band_hash FROM c_sigs, {_UNNEST_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS b_id, b.doc_id AS c_id
  FROM b_bands a JOIN c_bands b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
),
near_dup AS (
  SELECT DISTINCT b_id AS doc_id, 'near_dup' AS verdict
  FROM cand
  JOIN survivors sa ON sa.doc_id = b_id
  JOIN corpus sc ON sc.doc_id = c_id
  WHERE {sql_jaccard_sets('sa.sh', 'sc.sh')} >= {JACCARD_THRESHOLD}
),
kept AS (
  SELECT doc_id, 'kept' AS verdict FROM survivors
  WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)
)
SELECT * FROM exact_dup
UNION ALL SELECT * FROM near_dup
UNION ALL SELECT * FROM kept
"""


# -- precomputed bucketed band artifact (steady-state probe) --------------

BAND_ARTIFACT_BUCKETS = 16


def build_band_artifacts(
    spark: SparkSession, shingled_corpus: DataFrame, tag: str
) -> tuple[str, str]:
    """Persist the corpus's MinHash band table (bucketed by
    ``band_hash``) and shingle-set table (bucketed by ``doc_id``) as
    managed bucketed tables — the write-once artifacts every later
    batch probes.  Returns the two table names."""
    import shutil
    from urllib.parse import urlparse

    from pu4spark_spark.sources import write_bucketed_table

    bands_tbl = f"corpus_bands_{tag}"
    sh_tbl = f"corpus_shingles_{tag}"
    # a managed table's directory can outlive the catalog entry (fresh
    # session, same warehouse dir) and saveAsTable refuses to reuse the
    # location — drop both the entry and any orphaned directory
    warehouse = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path
    for t in (bands_tbl, sh_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed_table(
        minhash_bands(shingled_corpus),
        bands_tbl,
        ["band_hash"],
        BAND_ARTIFACT_BUCKETS,
        sort_cols=["band_hash"],
    )
    write_bucketed_table(
        shingled_corpus.select("doc_id", "sh"),
        sh_tbl,
        ["doc_id"],
        BAND_ARTIFACT_BUCKETS,
        sort_cols=["doc_id"],
    )
    return bands_tbl, sh_tbl


def probe_band_candidates(
    batch_bands: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """Candidate (batch, corpus) pairs by band equality against the
    bucketed artifact.  The join key is ``band_hash`` alone — it
    already encodes the band index (the index is hashed in), so it
    exactly matches the artifact's bucketing and the corpus side needs
    NO exchange (the bucket layout IS the join distribution); only the
    batch side shuffles, and it is batch-sized.  The merge hint pins
    the sort-merge strategy the 100 TB shape uses (at toy scale the
    planner would broadcast the batch and idle the bucket layout)."""
    return (
        batch_bands.select(F.col("doc_id").alias("b_id"), "band_hash")
        .hint("merge")
        .join(corpus_bands.select(F.col("doc_id").alias("c_id"), "band_hash"), "band_hash")
        .select("b_id", "c_id")
        .distinct()
    )


def ensure_band_artifacts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Idempotent artifact build keyed by ``sf_dir`` PLUS the source
    file's (size, mtime): if both bucketed tables for this exact corpus
    version already exist in the catalog they are reused verbatim, so
    repeated probe invocations — and the bench's timed run, which
    pre-builds via setup — pay only the batch-sized probe, never the
    corpus-sized build.  Keying on content metadata (not just the
    path) means regenerating the fixture in place invalidates the
    artifact instead of silently probing a stale corpus."""
    import hashlib
    import os

    from pu4spark_spark.plans import cached

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    ptag = hashlib.md5(src.encode()).hexdigest()[:8]
    try:
        st = os.stat(src)
        ver = f"{src}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ver = src
    # two-part tag: path component first so STALE versions of the same
    # corpus are discoverable by prefix, version component second so a
    # regenerated fixture still invalidates
    tag = f"{ptag}_{hashlib.md5(ver.encode()).hexdigest()[:8]}"
    bands_tbl = f"corpus_bands_{tag}"
    sh_tbl = f"corpus_shingles_{tag}"
    if spark.catalog.tableExists(bands_tbl) and spark.catalog.tableExists(
        sh_tbl
    ):
        return bands_tbl, sh_tbl
    # GC (ADVICE r6): every fixture regeneration used to mint new
    # tables while the old tag's saveAsTable data sat in the warehouse
    # forever — drop this corpus path's stale versions before building
    for t in spark.catalog.listTables():
        name = t.name
        for prefix in (f"corpus_bands_{ptag}_", f"corpus_shingles_{ptag}_"):
            if name.startswith(prefix) and name not in (bands_tbl, sh_tbl):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    # the corpus shingle set feeds BOTH artifact writes — persist it so
    # the md5 shingling runs once, not once per table
    corpus = cached(_doc_shingle_sets(spark, sf_dir).filter(~is_batch))
    try:
        return build_band_artifacts(spark, corpus, tag)
    finally:
        corpus.unpersist()


def q_dedup_band_artifact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup probe against a PRECOMPUTED bucketed signature artifact
    — the 100 TB steady state: the corpus's band table and shingle
    sets are written once (bucketed), and each arriving batch probes
    them with batch-sized work, never re-shingling or shuffling the
    corpus.  (``q_dedup_incremental`` derives the corpus tables
    in-plan; this query is the same arrival pattern after the one-off
    artifact build.)  Batch docs are ``doc_id % 10 == 0``, the corpus
    is the rest; output is the verified near-dup pairs.  The batch
    frame is deliberately NOT cached: it appears twice in the plan
    (bands + verify shingles) but is batch-sized, and recomputing it
    avoids leaking a persisted frame past the query boundary."""
    bands_tbl, sh_tbl = ensure_band_artifacts(spark, sf_dir)
    shingled = _doc_shingle_sets(spark, sf_dir)
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    batch = shingled.filter(is_batch)
    cand = probe_band_candidates(
        minhash_bands(batch), spark.table(bands_tbl)
    )
    sa = batch.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    sc = spark.table(sh_tbl).select(
        F.col("doc_id").alias("c_id"), F.col("sh").alias("sh_c")
    )
    return (
        cand.join(sa, "b_id")
        .join(sc, "c_id")
        .withColumn("jaccard", jaccard_sets(F.col("sh_b"), F.col("sh_c")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("b_id", "c_id", "jaccard")
    )


SQL_DEDUP_BAND_ARTIFACT_PROBE = f"""
WITH shingled AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
batch AS (SELECT * FROM shingled WHERE doc_id % {INCR_BATCH_MOD} = 0),
corpus AS (SELECT * FROM shingled WHERE doc_id % {INCR_BATCH_MOD} <> 0),
b_sigs AS (SELECT doc_id, sh, {_sql_minhash_bands()} FROM batch),
c_sigs AS (SELECT doc_id, sh, {_sql_minhash_bands()} FROM corpus),
b_bands AS (
  SELECT doc_id, u.band_pos, u.band_hash FROM b_sigs, {_UNNEST_BANDS}
),
c_bands AS (
  SELECT doc_id, u.band_pos, u.band_hash FROM c_sigs, {_UNNEST_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS b_id, b.doc_id AS c_id
  FROM b_bands a JOIN c_bands b ON a.band_hash = b.band_hash
)
SELECT b_id, c_id,
       {sql_jaccard_sets('sa.sh', 'sc.sh')} AS jaccard
FROM cand
JOIN batch sa ON sa.doc_id = b_id
JOIN corpus sc ON sc.doc_id = c_id
WHERE {sql_jaccard_sets('sa.sh', 'sc.sh')} >= {JACCARD_THRESHOLD}
"""


# -- near-dup clusters (connected components) ----------------------------

def connected_components(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node starts labeled with its own id;
    each round a node takes the minimum of its label and its neighbors'
    labels; at the fixpoint every node carries the minimum id of its
    component.  ``pairs`` needs columns ``a_id``/``b_id``; returns
    ``(doc_id, cluster_id)``.

    This is the step that turns pairwise near-dup matches into
    keep/drop groups (one survivor per cluster).  Driver-loop protocol
    mirrors the PU learners (labels.py): one fused count per iteration
    decides convergence, per-iteration state is re-persisted and the
    previous iteration unpersisted, and ``localCheckpoint`` cuts the
    growing lineage.  Each iteration is one equi-join + one
    map-side-combined groupBy on node ids — no all-pairs work; rounds
    needed = component diameter (near-dup clusters are tiny; a 100 TB
    run bounds it with ``max_iters``).
    """
    from pu4spark_spark.plans import cached

    edges = cached(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .union(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .distinct()
    )
    labels = cached(
        edges.select(F.col("u").alias("doc_id")).distinct().withColumn(
            "label", F.col("doc_id")
        )
    )
    persisted = labels
    for i in range(max_iters):
        neigh = (
            edges.join(labels, edges["v"] == labels["doc_id"])
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neigh, labels["doc_id"] == neigh["u"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("__chg"),
            )
        )
        # persist the UPDATED frame (with the change flag) before its
        # two consumers — otherwise the join+groupBy would execute
        # twice per iteration (once for the labels, once for the
        # convergence count)
        cur = cached(updated.localCheckpoint(eager=False))
        changed = (
            cur.agg(
                F.sum(F.when(F.col("__chg"), 1).otherwise(0)).alias("n")
            ).collect()[0]["n"]
        )
        persisted.unpersist()
        persisted = cur
        labels = cur.select("doc_id", "label")
        if not changed:
            break
    else:
        # loop exhausted max_iters with changes still flowing: the
        # labels are NOT component minima — surfacing this beats
        # silently returning a truncated propagation that would
        # diverge from the recursive-CTE oracle
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"iterations (last round still changed {changed} labels); "
            "raise max_iters — rounds needed = component diameter"
        )
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def _edge_set_diff(new_edges: DataFrame, edges: DataFrame) -> DataFrame:
    """The symmetric difference of two distinct ``(a, b)`` edge sets, in
    ONE join: a full-outer row with either side NULL is precisely an
    element of the diff.  The previous two-subtract form cost 4
    exchanges + a union per round; this is 2."""
    return (
        new_edges.withColumn("__n", F.lit(1))
        .join(edges.withColumn("__o", F.lit(1)), ["a", "b"], "full_outer")
        .filter(F.col("__n").isNull() | F.col("__o").isNull())
    )


def connected_components_star(
    pairs: DataFrame,
    max_iters: int = 30,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the web-graph-scale upgrade over min-label propagation:
    the edge set converges to per-component stars in O(log n) rounds
    REGARDLESS of diameter, where :func:`connected_components` needs
    O(diameter) rounds (a 1M-node chain: ~20 rounds vs 1M).

    Representation: every edge is a parent pointer ``(child, parent)``
    with ``parent < child``.  Per round —

    * large-star(u): every neighbor v > u re-points to
      m = min(Γ(u) ∪ {u});
    * small-star(u): u and its smaller neighbors re-point to
      m = min({v ∈ Γ(u): v < u} ∪ {u}).

    Both emit only (x, m) with m < x, so the canonical form is
    maintained for free.  Each phase is one symmetric fan-out + one
    map-side-combined groupBy on node id — no all-pairs work; the
    convergence check is one count over the round's symmetric edge
    diff.  Same loop hygiene as the min-label twin (persist/unpersist,
    eager-free localCheckpoint, one collect per round).

    Output is identical to :func:`connected_components` — component
    label = minimum member id — which is why the registered query
    shares the SAME recursive-CTE oracle."""
    from pu4spark_spark.plans import cached

    edges = cached(
        pairs.select(
            F.greatest(F.col("a_id"), F.col("b_id")).alias("a"),
            F.least(F.col("a_id"), F.col("b_id")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    persisted = edges
    rounds = 0
    for _ in range(max_iters):
        both = edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        # large-star: larger neighbors re-point to the neighborhood min
        mins = both.groupBy("u").agg(F.min("v").alias("mv"))
        m_all = mins.select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        large = (
            both.join(m_all, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the large-star output
        both2 = large.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(large.select(F.col("b").alias("u"), F.col("a").alias("v")))
        smaller = both2.filter(F.col("v") < F.col("u"))
        m_small = smaller.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            smaller.join(m_small, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(
                m_small.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        new_edges = cached(small.localCheckpoint(eager=False))
        rounds += 1
        changed = _edge_set_diff(new_edges, edges).limit(1).count()
        persisted.unpersist()
        persisted = new_edges
        edges = new_edges
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} "
            "rounds — raise max_iters (expected O(log n))"
        )
    if rounds_out is not None:
        rounds_out.append(rounds)
    # at the fixpoint every edge is (member, root); roots label themselves
    labels = edges.select(
        F.col("a").alias("doc_id"), F.col("b").alias("cluster_id")
    ).union(
        edges.select(F.col("b").alias("doc_id"), F.col("b").alias("cluster_id"))
    ).distinct()
    edges.unpersist()
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the
    verified MinHash-LSH pair graph.  ``cluster_id`` is the minimum
    doc_id of the component — the canonical survivor under the
    keep-lowest policy."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    return connected_components(pairs)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-star/small-star CC over the same verified pair graph —
    must be row-identical to ``dedup_clusters`` (both hash-check
    against the SAME recursive-CTE oracle), while converging in
    O(log n) rounds instead of O(diameter): the variant you run when
    the dup graph has long chains (boilerplate families, templated
    spam) rather than tight cliques."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    return connected_components_star(pairs)


def q_dedup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLUSTER MAINTENANCE under batch arrival — the incremental twin
    of ``dedup_clusters``: merge a new batch's verified pairs into an
    EXISTING corpus clustering without re-running connected components
    over the whole graph.  At 100 TB the full pair graph is
    rebuilt-from-scratch never; this is the daily-ingest shape
    (``dedup_incremental`` admits documents; this maintains the
    cluster assignment those admissions imply).

    Algorithm (min-label preserving by construction):

    1. corpus clusters = CC over corpus-only pairs (in production a
       stored artifact; derived here);
    2. new pairs = verified LSH pairs with ≥1 batch endpoint
       (batch×batch self-join + batch×corpus band probe — batch-sized
       work, the corpus side is its band table);
    3. every new-pair endpoint maps to its SUPER-NODE (corpus doc →
       its cluster label, batch doc → itself) and CC runs over that
       batch-sized super-graph only;
    4. touched corpus clusters relabel through the (old label → new
       label) map; untouched clusters keep their labels verbatim;
       batch docs and corpus singletons take their super-graph label.

    A corpus cluster's label IS its minimum member id, so the merged
    component's minimum over super-node ids equals the full
    recomputation's minimum over document ids — the output is
    row-identical to ``dedup_clusters``, and the DuckDB oracle is
    deliberately the SAME full-graph recursive closure: the driver
    hash-checks incremental ≡ full.

    Steady-state discipline (r7): the corpus side is touched ONLY
    through its persisted artifacts — the bucketed band/shingle tables
    (:func:`ensure_band_artifacts`) for the cross probe and the
    cluster table (:func:`ensure_cluster_artifact`) for the existing
    assignment — so repeat invocations (the nightly-ingest pattern)
    pay batch-sized work plus the batch×artifact joins, never a corpus
    re-shingle or a corpus-wide CC."""
    from pu4spark_spark.plans import cached

    bands_tbl, sh_tbl = ensure_band_artifacts(spark, sf_dir)
    cl_tbl = ensure_cluster_artifact(spark, sf_dir)
    base = _doc_shingle_sets(spark, sf_dir)
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    batch = cached(base.filter(is_batch))
    b_bands = cached(minhash_bands(batch))

    sa = batch.select(
        F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a")
    )
    bb_cand = band_self_join_candidates(b_bands)
    bb_pairs = (
        bb_cand.join(sa, "a_id")
        .join(
            batch.select(
                F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b")
            ),
            "b_id",
        )
        .filter(
            jaccard_sets(F.col("sh_a"), F.col("sh_b")) >= JACCARD_THRESHOLD
        )
        .select("a_id", "b_id")
    )
    bc_pairs = (
        probe_band_candidates(b_bands, spark.table(bands_tbl))
        .withColumnRenamed("b_id", "a_id")
        .withColumnRenamed("c_id", "b_id")
        .join(sa, "a_id")
        .join(
            spark.table(sh_tbl).select(
                F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b")
            ),
            "b_id",
        )
        .filter(
            jaccard_sets(F.col("sh_a"), F.col("sh_b")) >= JACCARD_THRESHOLD
        )
        .select("a_id", "b_id")
    )
    new_pairs = bb_pairs.unionByName(bc_pairs)
    return merge_into_clusters(spark.table(cl_tbl), new_pairs)


def ensure_cluster_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once CORPUS CLUSTER artifact (the steady-state other half
    of :func:`ensure_band_artifacts`): connected components over the
    corpus-only verified pairs, persisted as a managed table keyed on
    the source's (path, size, mtime) with stale-version GC.  In
    production this is the table each nightly
    ``merge_into_clusters`` run updates; here repeat invocations of
    the incremental query pay only batch-sized work."""
    import hashlib
    import os
    import shutil
    from urllib.parse import urlparse

    from pu4spark_spark.plans import cached

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    ptag = hashlib.md5(src.encode()).hexdigest()[:8]
    try:
        st = os.stat(src)
        ver = f"{src}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ver = src
    tbl = f"corpus_clusters_{ptag}_{hashlib.md5(ver.encode()).hexdigest()[:8]}"
    if spark.catalog.tableExists(tbl):
        return tbl
    warehouse = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path
    for t in spark.catalog.listTables():
        if t.name.startswith(f"corpus_clusters_{ptag}_") and t.name != tbl:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)

    base = cached(_doc_shingle_sets(spark, sf_dir))
    try:
        corpus = base.filter(~(F.col("doc_id") % INCR_BATCH_MOD == 0))
        c_bands = minhash_bands(corpus)
        cand = band_self_join_candidates(c_bands)
        sa = corpus.select(
            F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a")
        )
        sb = corpus.select(
            F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b")
        )
        pairs = (
            cand.join(sa, "a_id")
            .join(sb, "b_id")
            .filter(
                jaccard_sets(F.col("sh_a"), F.col("sh_b"))
                >= JACCARD_THRESHOLD
            )
            .select("a_id", "b_id")
        )
        connected_components(pairs).write.saveAsTable(tbl)
    finally:
        base.unpersist()
    return tbl


def merge_into_clusters(
    corpus_cc: DataFrame, new_pairs: DataFrame
) -> DataFrame:
    """Merge ``new_pairs`` (``a_id``/``b_id``; every endpoint either a
    new node or a member of ``corpus_cc``) into an existing
    ``(doc_id, cluster_id)`` assignment — the super-node algebra of
    ``q_dedup_clusters_incremental``, factored out so it can be
    property-tested on arbitrary graphs and reused against a PERSISTED
    cluster artifact.  Output is row-identical to
    ``connected_components(corpus_pairs ∪ new_pairs)`` (randomized
    equivalence test in tests/test_dedup.py)."""
    from pu4spark_spark.plans import cached

    la = corpus_cc.select(
        F.col("doc_id").alias("a_id"), F.col("cluster_id").alias("la")
    )
    lb = corpus_cc.select(
        F.col("doc_id").alias("b_id"), F.col("cluster_id").alias("lb")
    )
    mapped = (
        new_pairs.join(la, "a_id", "left")
        .join(lb, "b_id", "left")
        .select(
            F.coalesce(F.col("la"), F.col("a_id")).alias("a_id"),
            F.coalesce(F.col("lb"), F.col("b_id")).alias("b_id"),
        )
        .filter(F.col("a_id") != F.col("b_id"))
    )
    small = cached(connected_components(mapped))

    rel_map = small.select(
        F.col("doc_id").alias("old_label"),
        F.col("cluster_id").alias("new_label"),
    )
    corpus_out = (
        corpus_cc.join(
            F.broadcast(rel_map),
            corpus_cc["cluster_id"] == rel_map["old_label"],
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("new_label"), F.col("cluster_id")).alias(
                "cluster_id"
            ),
        )
    )
    new_out = small.join(
        corpus_cc.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", "cluster_id")
    return corpus_out.unionByName(new_out)


def q_dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution of near-dup CLUSTER sizes over the whole corpus —
    the one-table answer to "what does dedup win here?": the size-1
    row counts unique documents, the tail rows are the boilerplate
    families, and ``n_docs - n_clusters`` summed over sizes ≥ 2 is
    exactly the document count a keep-one-per-cluster pass removes.
    The degree histogram (`dedup_graph_degree_histogram`) profiles the
    pair GRAPH before CC; this profiles the COMPONENTS after it.

    Scale shape: connected components runs over the LSH-pair graph
    (candidate-sized, far smaller than the corpus); singletons join in
    via ONE left join on doc_id (no per-singleton graph work), and the
    two rollups are map-side-combined groupBys whose final key space
    is ≤ max cluster size.  All counts exact int64."""
    # same cluster derivation as dedup_clusters BY CONSTRUCTION: any
    # change to how clusters are computed flows into this histogram
    cc = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    full = docs.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    sizes = full.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
    ).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


#: the recursive closure enumerates, per node, every reachable node id;
#: MIN over that set is exactly the fixpoint of Spark's min-label loop
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.u AS doc, reach.r
  FROM edges e JOIN reach ON reach.doc = e.v
)
SELECT doc AS doc_id, MIN(r) AS cluster_id
FROM reach GROUP BY doc
"""


SQL_DEDUP_CLUSTER_SIZE_HISTOGRAM = f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.u AS doc, reach.r
  FROM edges e JOIN reach ON reach.doc = e.v
),
cc AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
full_assign AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc USING (doc_id)
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
  FROM full_assign GROUP BY cluster_id
)
SELECT sz AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz
"""


# -- triangle enumeration over the near-dup graph ------------------------

def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every triangle in the verified near-dup pair graph — the density
    signal that separates boilerplate families (near-cliques: every
    mirror matches every other) from chain-shaped false-positive runs
    (A≈B≈C with A≉C), which connected components alone cannot tell
    apart.

    Scale shape — degree-ordered orientation, the standard distributed
    triangle algorithm: orient every edge from its (degree, id)-smaller
    endpoint to the larger, so each triangle is emitted exactly once at
    its lowest-degree apex and the wedge join fans out only over
    OUT-degrees, which the orientation bounds by O(sqrt(|E|))
    (arboricity bound) — a celebrity node with 10M near-dup neighbors
    contributes wedges only toward its ≤sqrt-bounded higher-ordered
    neighbors, not 10M² pairs.  Cost: the pair graph (LSH-sized, far
    smaller than the corpus) + two equi-joins on node ids.

    The DuckDB oracle deliberately uses the NAIVE id-ordered
    formulation (a<b<c, three edge probes) — a different algorithm
    producing the same triangle set, so the engines cross-check the
    result, not a shared implementation.  Output rows are the
    id-sorted triples ``(x_id, y_id, z_id)``.
    """
    # the pair graph feeds SIX consumers in the enumeration (degree
    # count, both orientation sides, both wedge sides, the closing
    # probe).  An unpersist-in-finally would fire BEFORE the returned
    # lazy plan executes and re-run the LSH chain per consumer
    # (measured 6×); an eager localCheckpoint materializes the
    # LSH-sized pair list once and cuts the lineage, with storage
    # reclaimed when the plan is garbage-collected.
    pairs = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    return triangle_enumerate(pairs)


def triangle_enumerate(pairs: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration over an undirected edge list
    (columns ``a_id``/``b_id``, one row per edge, either orientation) —
    see :func:`q_dedup_triangles` for the algorithm and scale argument.
    Returns one row per triangle as the id-sorted triple."""
    deg = (
        pairs.select(F.col("a_id").alias("node"))
        .union(pairs.select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(
        F.col("node").alias("a_id"), F.col("deg").alias("deg_a")
    )
    db = deg.select(
        F.col("node").alias("b_id"), F.col("deg").alias("deg_b")
    )
    ranked = pairs.join(da, "a_id").join(db, "b_id")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b"))
        & (F.col("a_id") < F.col("b_id"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a_id")).otherwise(F.col("b_id")).alias("src"),
        F.when(a_first, F.col("deg_a")).otherwise(F.col("deg_b")).alias("deg_s"),
        F.when(a_first, F.col("b_id")).otherwise(F.col("a_id")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_d"),
    )
    e1 = oriented.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("b"),
        F.col("deg_d").alias("deg_b2"),
    )
    e2 = oriented.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("c"),
        F.col("deg_d").alias("deg_c2"),
    )
    wedges = e1.join(e2, "apex").filter(
        (F.col("deg_b2") < F.col("deg_c2"))
        | (
            (F.col("deg_b2") == F.col("deg_c2"))
            & (F.col("b") < F.col("c"))
        )
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"], "left_semi")
    ids = F.array_sort(F.array("apex", "b", "c"))
    return tri.select(
        ids[0].alias("x_id"), ids[1].alias("y_id"), ids[2].alias("z_id")
    )


SQL_DEDUP_TRIANGLES = f"""
WITH {_sql_minhash_pair_ctes()}
SELECT p1.a_id AS x_id, p1.b_id AS y_id, p2.b_id AS z_id
FROM pairs p1
JOIN pairs p2 ON p2.a_id = p1.b_id
JOIN pairs p3 ON p3.a_id = p1.a_id AND p3.b_id = p2.b_id
"""


# -- PageRank over the near-dup graph ------------------------------------

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 10


def pagerank(
    pairs: DataFrame,
    damping: float = PAGERANK_DAMPING,
    n_iters: int = PAGERANK_ITERS,
) -> DataFrame:
    """PageRank on an undirected edge list (``a_id``/``b_id``) by fixed
    power iteration — returns ``(doc_id, pagerank)``.  On the near-dup
    graph this ranks HUB documents: a doc near-duplicating many
    well-connected docs (template families, mirrored boilerplate)
    scores high even when pairwise Jaccard alone looks unremarkable.

    Driver-loop hygiene mirrors :func:`connected_components` (the
    family protocol): per-iteration state is eagerly
    ``localCheckpoint``-ed and the previous iteration unpersisted
    (measured AGAINST batching 3 rounds per checkpoint: the per-round
    materialization is faster — each round's join then plans against
    actual tiny-state statistics instead of a 3-round-deep lazy chain),
    and NO driver collect happens inside the loop — iteration count is
    fixed (power iteration converges geometrically at rate ``damping``;
    10 rounds ≈ 0.85^10 < 0.2 residual, fine for ranking).  Each
    iteration is one equi-join of ranks against the PRE-JOINED
    (src, dst, out_deg) edge table (loop-invariant — built and
    persisted once, not re-joined per round) + one map-side-combined
    groupBy(dst).
    Isolated nodes don't occur (every node has ≥1 edge by
    construction).  Scores are IEEE doubles accumulated across
    iterations, so this is deliberately NOT oracle-checked (summation
    order differs across engines); the CPython reference test pins the
    algorithm to 1e-9 relative agreement.
    """
    from pu4spark_spark.plans import cached

    edges = cached(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .distinct()
    )
    degs = cached(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    )
    n_nodes = degs.count()  # one scalar, outside the loop
    if n_nodes == 0:
        # empty pair graph (all-unique corpus): no hubs to rank —
        # return an empty typed frame like connected_components does
        edges.unpersist()
        degs.unpersist()
        return degs.select(
            F.col("src").alias("doc_id"),
            F.lit(0.0).alias("pagerank"),
        )
    base = float(1.0 - damping) / float(n_nodes)
    # loop-invariant contribution fan-out table, joined with degrees
    # ONCE (the in-loop edges⋈degs re-join was one redundant join per
    # round); pr / out_deg below keeps the exact division the CPython
    # reference performs
    wedges = cached(edges.join(degs, "src").select("src", "dst", "out_deg"))
    ranks = degs.select(
        F.col("src").alias("doc_id"),
        F.lit(1.0 / float(n_nodes)).alias("pr"),
    )
    persisted = None
    for _ in range(n_iters):
        contrib = wedges.join(ranks, wedges["src"] == ranks["doc_id"]).select(
            F.col("dst"),
            (F.col("pr") / F.col("out_deg").cast("double")).alias("c"),
        )
        new_ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("__in"))
            .select(
                F.col("dst").alias("doc_id"),
                (F.lit(base) + F.lit(float(damping)) * F.col("__in")).alias(
                    "pr"
                ),
            )
        )
        # eager: the checkpoint materializes BEFORE the previous
        # round's cache (its input) is released
        cur = cached(new_ranks.localCheckpoint(eager=True))
        if persisted is not None:
            persisted.unpersist()
        persisted = cur
        ranks = cur
    out = ranks.select("doc_id", F.col("pr").alias("pagerank"))
    wedges.unpersist()
    edges.unpersist()
    degs.unpersist()
    return out


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARITY DEMO — NOT REGISTERED (r9): the float PageRank is
    permanently rows-only (iterated IEEE sums are not engine-portable)
    and evidentially dominated by its fixed-point twin
    :func:`q_dedup_pagerank_int`, which hash-matches an 8-round DuckDB
    unroll of the same algorithm.  Kept callable for the CPython
    reference test on :func:`pagerank`; running both in the headline
    bench paid ~6 s/round for the same algorithm twice."""
    from pu4spark_spark.plans import cached

    pairs = cached(q_dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id"))
    try:
        return pagerank(pairs)
    finally:
        pairs.unpersist()


PAGERANK_INT_SCALE = 10**12
PAGERANK_INT_ITERS = 8


def pagerank_int(
    pairs: DataFrame, n_iters: int = PAGERANK_INT_ITERS
) -> DataFrame:
    """FIXED-POINT integer PageRank — the float twin above made
    engine-exact the same way the k-means was (similarity.py): scores
    live as int64 fixed-point (scale 10¹²), every per-round operation
    is integer division and associative integer summation, so the
    whole 8-round trace is partition-order independent and bit-equal
    across engines — the iterated-IEEE objection to oracle-checking
    PageRank disappears.  Truncation (≤1 unit per edge per round, i.e.
    1e-12 of rank mass) is identical in both engines by construction;
    the damping split is ``base = 15·SCALE // (100·N)`` and
    ``0.85·m = (85·m) // 100`` — never a float.

    Same driver-loop hygiene and shapes as :func:`pagerank` (eager
    per-round localCheckpoint, loop-invariant edge⋈degree fan-out
    table, one map-side-combined groupBy per round, zero in-loop
    collect)."""
    from pu4spark_spark.plans import cached

    edges = cached(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .distinct()
    )
    # the round count is FIXED (n_iters, no convergence collect), so the
    # whole recurrence can unroll into ONE lazy plan — exactly like the
    # oracle's unrolled CTE chain — instead of paying an eager
    # localCheckpoint job per round (was: n_iters+3 jobs; now: degs
    # checkpoint + count + wedges checkpoint + the single final job).
    # degs/wedges are lineage-TRUNCATED (eager localCheckpoint), so each
    # of the ~2·n_iters plan references costs one LogicalRDD leaf, not a
    # copy of the whole minhash pair subtree — analysis stays O(rounds).
    # Memory profile at scale is no worse than the per-round form: the
    # two node-sized invariants are pinned instead of a rolling rank
    # snapshot, and per-round ranks are pipeline stages, never stored.
    degs = cached(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = degs.count()  # one scalar, outside the loop
    if n_nodes == 0:
        edges.unpersist()
        return degs.select(
            F.col("src").alias("doc_id"),
            F.lit(0).cast("long").alias("score"),
        )
    base_term = (15 * PAGERANK_INT_SCALE) // (100 * n_nodes)
    wedges = cached(
        edges.join(degs, "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    ranks = degs.select(
        F.col("src").alias("doc"),
        F.lit(PAGERANK_INT_SCALE // n_nodes).cast("long").alias("score"),
    )
    for _ in range(n_iters):
        contrib = wedges.join(ranks, wedges["src"] == ranks["doc"]).select(
            F.col("dst"), F.expr("score div deg").alias("c")
        )
        insum = contrib.groupBy("dst").agg(F.sum("c").alias("m"))
        ranks = (
            degs.join(insum, degs["src"] == insum["dst"], "left")
            .select(
                F.col("src").alias("doc"),
                (
                    F.lit(base_term)
                    + F.expr("(85 * coalesce(m, 0L)) div 100")
                )
                .cast("long")
                .alias("score"),
            )
        )
    out = ranks.select(F.col("doc").alias("doc_id"), "score")
    # edges was consumed by the two checkpoint materializations above;
    # degs/wedges stay pinned until the ledger releases them (the
    # returned plan still reads their checkpointed blocks)
    edges.unpersist()
    return out


def q_dedup_pagerank_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the near-dup pair graph, hash-checked
    against a DuckDB unroll of the identical fixed-point recurrence."""
    from pu4spark_spark.plans import cached

    pairs = cached(q_dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id"))
    try:
        return pagerank_int(pairs)
    finally:
        pairs.unpersist()


def _sql_pagerank_int() -> str:
    S = PAGERANK_INT_SCALE
    parts = [
        f"""WITH {_sql_minhash_pair_ctes()},
edges2 AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
degs AS (SELECT src, COUNT(*) AS deg FROM edges2 GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM degs),
s0 AS (
  SELECT src AS doc, CAST({S} // n AS BIGINT) AS score FROM degs, nn
)"""
    ]
    for r in range(1, PAGERANK_INT_ITERS + 1):
        parts.append(
            f""",
c{r} AS (
  SELECT e.dst AS doc, SUM(p.score // dg.deg) AS m
  FROM edges2 e
       JOIN s{r - 1} p ON p.doc = e.src
       JOIN degs dg ON dg.src = e.src
  GROUP BY e.dst
),
s{r} AS (
  SELECT d.src AS doc,
         CAST((15 * {S}) // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS score
  FROM degs d LEFT JOIN c{r} c ON c.doc = d.src
)"""
        )
    parts.append(
        f"""
SELECT doc AS doc_id, score FROM s{PAGERANK_INT_ITERS}"""
    )
    return "".join(parts)


SQL_DEDUP_PAGERANK_INT = _sql_pagerank_int()


# -- canonical-document selection (cluster representative) ---------------

from pu4spark_spark.operators.text import STOPWORDS as _CANON_STOPWORDS  # noqa: E402

#: the quality oracle's stopword list, SQL-quoted (mirrors text.py's
#: ``_STOP_IN`` so the canonical query scores quality identically)
_STOP_IN_SQL = ", ".join(f"'{w}'" for w in _CANON_STOPWORDS)


def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable END of the dedup chain: for every doc that
    belongs to a near-dup cluster, the single document the corpus
    should keep — the cluster member with the highest quality score
    (min doc_id on ties), i.e. keep-BEST-copy rather than the
    keep-lowest-id policy ``cluster_id`` itself encodes.

    Composition: connected components over the verified LSH pair graph
    (``q_dedup_clusters``) joined to the native quality score
    (``text.q_text_quality``), then one tiny window over the cluster
    table (cluster-count rows, not corpus rows) picks the argmax.
    At 100 TB the clustered subset is LSH-candidate-sized — the
    corpus-sized tables never enter the window.
    """
    clusters = q_dedup_clusters(spark, sf_dir)
    return _canonical_over(clusters, _doc_quality_metrics(spark, sf_dir))


def _doc_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, quality_score) over the corpus — the quality
    projection the canonical/cluster-report queries share, with
    ``spread`` parallelism (the interpreted stopword HOF on a
    single-file scan otherwise runs one-task; values identical to
    ``q_text_quality``'s, same :func:`quality_score_expr`)."""
    from pu4spark_spark.plans import spread

    docs = spread(load_table(spark, "documents", sf_dir))
    tok = tokens("text")
    from pu4spark_spark.operators.text import quality_score_expr

    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        quality_score_expr(tok).alias("quality_score"),
    )


def _canonical_over(clusters: DataFrame, metrics: DataFrame) -> DataFrame:
    """Keep-best pick over a cluster table (the body of
    ``q_dedup_canonical_docs``, factored so ``q_dedup_cluster_quality``
    reuses ONE quality pass for both the pick and its report)."""
    scored = clusters.join(
        metrics.select("doc_id", "quality_score"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("cluster_id").alias("__cl"),
            F.col("doc_id").alias("canonical_id"),
        )
    )
    return (
        scored.join(best, scored["cluster_id"] == best["__cl"])
        .select(
            "doc_id",
            "cluster_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_keeper"),
        )
    )


SQL_DEDUP_CANONICAL = f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.u AS doc, reach.r
  FROM edges e JOIN reach ON reach.doc = e.v
),
clusters AS (
  SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc
),
quality AS (
  SELECT doc_id,
         0.4 * least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0)
         + 0.3 * (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
         + 0.3 * (1.0 - CAST(len(list_filter(ws, t -> t IN ({_STOP_IN_SQL}))) AS DOUBLE) / len(ws))
           AS quality_score
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
scored AS (
  SELECT c.doc_id, c.cluster_id, q.quality_score
  FROM clusters c JOIN quality q USING (doc_id)
),
best AS (
  SELECT cluster_id, doc_id AS canonical_id
  FROM (SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id ASC) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT s.doc_id, s.cluster_id, b.canonical_id,
       s.doc_id = b.canonical_id AS is_keeper
FROM scored s JOIN best b USING (cluster_id)
"""


def q_dedup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "what did dedup keep?" REPORT (VERDICT r6 #6c): every
    near-dup cluster joined back to the corpus metrics — member and
    drop counts, the canonical doc's quality, the cluster's quality
    range, and the token mass kept vs removed.  This is the artifact a
    data curator actually reads after a dedup run: how much volume the
    pass deleted and whether keep-best left quality on the table.

    Exactness discipline: no double is ever SUMMED (cross-engine
    summation order would drift) — quality columns are single-row
    selections (the keeper's score, order-free min/max); all mass
    columns are int64 token counts.  Scale shape: the cluster table is
    LSH-candidate-sized, the corpus joins it once (broadcast at
    fixture scale, hash join at 100 TB), one map-side-combined groupBy
    over cluster ids."""
    from pu4spark_spark.plans import cached

    # ONE quality pass feeds both the canonical pick and the report
    # join (the r7 shape ran the tokenize+score chain twice: once
    # inside q_dedup_canonical_docs via q_text_quality, once for this
    # query's own metrics projection — same expression both times)
    metrics = cached(_doc_quality_metrics(spark, sf_dir))
    canon = _canonical_over(q_dedup_clusters(spark, sf_dir), metrics)
    j = canon.join(metrics, "doc_id")
    return j.groupBy("cluster_id", "canonical_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - F.lit(1)).cast("bigint").alias("n_dropped"),
        F.max(
            F.when(F.col("is_keeper"), F.col("quality_score"))
        ).alias("canonical_quality"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("tokens_total"),
        F.sum(
            F.when(F.col("is_keeper"), F.col("n_tokens"))
            .otherwise(F.lit(0))
            .cast("bigint")
        ).alias("tokens_kept"),
        F.sum(
            F.when(F.col("is_keeper"), F.lit(0))
            .otherwise(F.col("n_tokens"))
            .cast("bigint")
        ).alias("tokens_dropped"),
    )


SQL_DEDUP_CLUSTER_QUALITY = f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.u AS doc, reach.r
  FROM edges e JOIN reach ON reach.doc = e.v
),
clusters AS (
  SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc
),
metrics AS (
  SELECT doc_id,
         CAST(len(ws) AS INTEGER) AS n_tokens,
         0.4 * least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0)
         + 0.3 * (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
         + 0.3 * (1.0 - CAST(len(list_filter(ws, t -> t IN ({_STOP_IN_SQL}))) AS DOUBLE) / len(ws))
           AS quality_score
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
scored AS (
  SELECT c.doc_id, c.cluster_id, m.quality_score, m.n_tokens
  FROM clusters c JOIN metrics m USING (doc_id)
),
best AS (
  SELECT cluster_id, doc_id AS canonical_id
  FROM (SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id ASC) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT s.cluster_id, b.canonical_id,
       COUNT(*) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       MAX(CASE WHEN s.doc_id = b.canonical_id
                THEN s.quality_score END) AS canonical_quality,
       MIN(s.quality_score) AS min_quality,
       MAX(s.quality_score) AS max_quality,
       CAST(SUM(s.n_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN s.doc_id = b.canonical_id
                     THEN s.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(SUM(CASE WHEN s.doc_id = b.canonical_id
                     THEN 0 ELSE s.n_tokens END) AS BIGINT) AS tokens_dropped
FROM scored s JOIN best b USING (cluster_id)
GROUP BY s.cluster_id, b.canonical_id
"""


# -- SimHash fingerprint -------------------------------------------------

SIMHASH_BITS = 64  # 16 md5 hex nibbles — band keys scale as 2^(bits/2)

def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc via one whole-stage-codegen aggregation.

    Classic formulation: bit j of the fingerprint is 1 iff the sum over
    token occurrences of ±1 (by bit j of md5(token)) is positive —
    equivalently iff ``2·|{tokens with bit j set}| > n_tokens``.

    Execution shape — chosen by measurement, not aesthetics.  The
    round-2 version stayed "shuffle-free" by counting bits with per-row
    higher-order functions (``size(filter(...))`` per bit), but HOF
    lambdas are CodegenFallback: ~64 interpreted expression evals per
    token dominated the operator (≈10 s for 500 sf0.01 docs).  This
    version explodes to one row per token, projects the 16 digest
    nibbles as plain integer columns, and lets a HashAggregate compute
    the 64 bit-sums — every operator (split, explode, md5, nibble
    arithmetic, partial sums) runs inside whole-stage codegen.  The
    groupBy(doc_id) exchange is NOT a data-size shuffle: partial
    (map-side) aggregation pre-reduces each doc's tokens — co-located
    by the explode, which never repartitions — to a single 64-counter
    row, so the exchange carries exactly one fingerprint-width row per
    doc (the size of the operator's *output*, ~50 GB for a 100M-doc /
    100 TB corpus vs the 100 TB scan).  Bit 63 maps to the sign bit of
    the long fingerprint (two's complement) — xor/bit_count algebra is
    unaffected, in Spark and DuckDB alike.

    Contract: a doc with no tokens (NULL text — ``split`` maps it to
    NULL and ``explode`` drops it) has NO fingerprint row, same as
    ``minhash_bands``'s empty-shingle contract; the oracle filters
    identically.
    """
    from pu4spark_spark.plans import spread

    tokrows = (
        spread(docs)
        .select("doc_id", F.explode(tokens("text")).alias("__tok"))
        .select("doc_id", F.md5(F.col("__tok")).alias("__hash"))
    )
    # All wide expressions are built as SQL strings (one py4j call per
    # expression): composing 64 aggregates Column-op-by-Column-op costs
    # ~900 driver py4j round-trips ≈ 1.8 s of pure DataFrame
    # *construction* time — measured as the dominant cost of this
    # operator, ahead of its actual execution.
    #
    # Stage the 16 nibble values as scalar columns: codegen evaluates
    # each ascii/case chain once per row; the 64 aggregate expressions
    # then reference plain attributes (ascii('0'..'9') → 48..57;
    # 'a'..'f' → 97..102)
    nibbed = tokrows.selectExpr(
        "doc_id",
        *[
            f"(CASE WHEN ascii(substring(__hash, {i + 1}, 1)) <= 57"
            f" THEN ascii(substring(__hash, {i + 1}, 1)) - 48"
            f" ELSE ascii(substring(__hash, {i + 1}, 1)) - 87 END)"
            f" AS __nib{i}"
            for i in range(SIMHASH_BITS // 4)
        ],
    )
    counted = nibbed.groupBy("doc_id").agg(
        F.expr("count(1)").alias("__n"),
        *[
            F.expr(f"sum(shiftright(__nib{j // 4}, {j % 4}) & 1)").alias(
                f"__c{j}"
            )
            for j in range(SIMHASH_BITS)
        ],
    )

    def bit_term(j: int) -> str:
        # bit 63 is the long's sign bit — two's complement, not 1<<63
        one = (
            "(CAST(-9223372036854775807 AS BIGINT) - 1)"
            if j == SIMHASH_BITS - 1
            else f"CAST({1 << j} AS BIGINT)"
        )
        return f"(CASE WHEN __c{j} * 2 > __n THEN {one} ELSE CAST(0 AS BIGINT) END)"

    fp = " | ".join(bit_term(j) for j in range(SIMHASH_BITS))
    return counted.select("doc_id", F.expr(fp).alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return simhash_fingerprints(docs)


def _sql_simhash_core() -> str:
    # deliberately a DIFFERENT formulation from the Spark side (64
    # list_filter counts instead of packed-lane aggregates) so the two
    # engines cross-check the algorithm, not a shared implementation
    nib = (
        "(CASE WHEN ascii(substr(h, {i}, 1)) <= 57"
        " THEN ascii(substr(h, {i}, 1)) - 48"
        " ELSE ascii(substr(h, {i}, 1)) - 87 END)"
    )

    def bit_term(j: int) -> str:
        cond = f"(({nib.format(i=j // 4 + 1)} >> {j % 4}) & 1) = 1"
        # bit 63 = the BIGINT sign bit; (-(2^63-1) - 1) keeps the
        # literal BIGINT-typed (a bare 2^63 would widen to HUGEINT)
        one = (
            "(-9223372036854775807 - 1)"
            if j == SIMHASH_BITS - 1
            else f"CAST({1 << j} AS BIGINT)"
        )
        return (
            f"(CASE WHEN 2 * len(list_filter(hs, h -> {cond})) > len(hs)"
            f" THEN {one} ELSE CAST(0 AS BIGINT) END)"
        )

    fp = "\n       + ".join(bit_term(j) for j in range(SIMHASH_BITS))
    return f"""
hdoc AS (
  -- contract (mirrors the Spark side): a doc with NO tokens has no
  -- fingerprint.  split() maps NULL text to NULL (explode drops it),
  -- while empty text still yields the single empty token on BOTH
  -- engines, so only the NULL/empty-list case needs the filter.
  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs
  FROM documents
  WHERE text IS NOT NULL AND len(string_split(text, ' ')) > 0
),
fp AS (SELECT doc_id, {fp} AS simhash FROM hdoc)
"""


SQL_DEDUP_SIMHASH = f"""
WITH {_sql_simhash_core()}
SELECT doc_id, simhash FROM fp
"""


def q_dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing an identical 64-bit SimHash — hamming-0 duplicate
    groups (see :func:`q_dedup_simhash_hamming` for the hamming ≤ k
    band-join generalization)."""
    fp = q_dedup_simhash(spark, sf_dir)
    return (
        fp.groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


SQL_DEDUP_SIMHASH_GROUPS = f"""
WITH {_sql_simhash_core()}
SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM fp GROUP BY simhash HAVING COUNT(*) > 1
"""


# -- SimHash hamming ≤ k pairs (band join) -------------------------------

SIMHASH_HAMMING_K = 1
_SIMHASH_BAND_MASK = (1 << (SIMHASH_BITS // (SIMHASH_HAMMING_K + 1))) - 1


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at SimHash hamming distance ≤ k via the classic
    band construction: split the 64-bit fingerprint into k+1 bands
    (k=1 ⇒ two 32-bit halves).  Any pair at hamming ≤ k differs in at
    most k bit positions, so by pigeonhole it agrees *exactly* on at
    least one band — an equi-join on ``(band_pos, band_val)`` finds
    every such pair with ONE shuffle (no all-pairs scan); candidates
    are then verified with ``bit_count(xor) ≤ k``.  Band-key
    cardinality is 2^32 per position: unlike a fixed blocking column it
    grows with fingerprint width (the round-2 32-bit version capped at
    2^16 keys — a bounded-cardinality block that goes quadratic past
    ~65k docs/bucket), and the construction stays width-generic if a
    larger corpus ever needs 128-bit fingerprints.  The shift/mask
    band split is sign-safe: both Spark and DuckDB use arithmetic
    ``>>``, and the mask keeps only the 32 real band bits.
    """
    from pu4spark_spark.plans import cached

    fp = cached(q_dedup_simhash(spark, sf_dir))
    h = F.col("simhash")
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                h.bitwiseAND(F.lit(_SIMHASH_BAND_MASK)),
                F.shiftright(h, SIMHASH_BITS // 2).bitwiseAND(
                    F.lit(_SIMHASH_BAND_MASK)
                ),
            )
        ).alias("band_pos", "band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("a_id"),
        F.col("simhash").alias("ha"),
        "band_pos",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("simhash").alias("hb"),
        "band_pos",
        "band_val",
    )
    cand = (
        a.join(b, ["band_pos", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_HAMMING_K)
        .select("a_id", "b_id", "hamming")
    )


SQL_DEDUP_SIMHASH_HAMMING = f"""
WITH {_sql_simhash_core()},
bands AS (
  SELECT doc_id, simhash, u.band_pos, u.band_val
  FROM fp, UNNEST([
      {{'band_pos': 0, 'band_val': simhash & {_SIMHASH_BAND_MASK}}},
      {{'band_pos': 1,
        'band_val': (simhash >> {SIMHASH_BITS // 2}) & {_SIMHASH_BAND_MASK}}}
  ]) AS t(u)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b
    ON a.band_pos = b.band_pos AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {SIMHASH_HAMMING_K}
"""


# -- n-gram Jaccard on LSH candidates -----------------------------------

NGRAM_JACCARD_THRESHOLD = 0.3


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.3 over MinHash-band candidate pairs.

    Candidate generation is the same LSH band self-join as
    :func:`q_dedup_minhash_lsh` (one shuffle on the band key, cost
    O(candidates)); only the verify threshold differs.  Replaces the
    round-1 (lang × size-bucket) blocking whose fixed key cardinality
    made per-block size grow O(n) and the in-block self-join O(n²) —
    band-key cardinality instead grows with the corpus, so per-bucket
    work stays bounded at 100 TB.  Standard LSH recall tradeoff: pairs
    at J≈0.3 collide in ≥1 of 4 bands with p = 1-(1-0.3²)⁴ ≈ 0.31.
    """
    from pu4spark_spark.plans import cached

    base = cached(_doc_shingle_sets(spark, sf_dir))
    # the band table feeds both sides of the self-join — persist it so
    # the signature hashing runs once, not per consumer
    bands = cached(minhash_bands(base))
    cand = band_self_join_candidates(bands)
    sa = base.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", jaccard_sets(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh, {_sql_minhash_bands()} FROM base
),
bands AS (
  SELECT doc_id, u.band_pos, u.band_hash
  FROM sigs, UNNEST([
      {{'band_pos': 0, 'band_hash': band0}},
      {{'band_pos': 1, 'band_hash': band1}},
      {{'band_pos': 2, 'band_hash': band2}},
      {{'band_pos': 3, 'band_hash': band3}}]) AS t(u)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       {sql_jaccard_sets('sa.sh', 'sb.sh')} AS jaccard
FROM cand
JOIN base sa ON sa.doc_id = a_id
JOIN base sb ON sb.doc_id = b_id
WHERE {sql_jaccard_sets('sa.sh', 'sb.sh')} >= {NGRAM_JACCARD_THRESHOLD}
"""


# -- EXACT similarity join via prefix filtering (AllPairs/PPJoin) ---------

#: exactness threshold for the prefix-filtered join — candidates are
#: GUARANTEED complete at this τ (no LSH recall loss)
PREFIX_JACCARD_TAU = 0.5


def q_dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (all pairs with 3-gram Jaccard ≥
    τ) via PREFIX FILTERING — the AllPairs/PPJoin family (Bayardo et
    al. WWW'07), the deterministic complement to MinHash banding:
    banding trades recall for speed (a J=0.3 pair collides with
    p≈0.31), the prefix filter is COMPLETE — two sets with
    J ≥ τ MUST share at least one token among each one's
    ``|s| - ceil(τ·|s|) + 1`` rarest tokens, so joining on prefix
    tokens alone provably loses nothing.

    Plan shape: global document frequencies (one map-side-combined
    groupBy on the token key), per-doc rarest-first rank (window keyed
    by doc_id — partition-local, bounded by doc size), prefix
    self-join on the token key + the |B| ≥ τ·|A| length filter + the
    POSITIONAL filter, then the exact Jaccard verify on candidate
    pairs only.  Rarest-first ordering is what bounds the join: a
    token's posting list in the prefix index is short precisely
    because the token is rare (127× candidate reduction vs all-pairs
    on the fixture).  The positional filter is PPJoin's second prune
    and matters when the vocabulary saturates (posting lists grow
    with the corpus): a match at prefix positions (i, j) can reach
    overlap at most 1 + min(|A|−i, |B|−j), and J ≥ τ needs overlap ≥
    ⌈τ/(1+τ)·(|A|+|B|)⌉ — pairs whose bound falls short are dropped
    inside the join stage before the distinct (measured 2.5× fewer
    candidates at sf0.1, where true pairs grow 10× linearly but
    unpruned candidates grow 401×).  The oracle deliberately computes
    naive all-pairs Jaccard, so the two engines cross-check the
    RESULT through different algorithms (the ``dedup_triangles``
    discipline)."""
    from pu4spark_spark.plans import cached

    base = cached(_doc_shingle_sets(spark, sf_dir, nonempty=True))
    return prefix_filter_pairs(base, PREFIX_JACCARD_TAU)


def prefix_filter_pairs(base: DataFrame, tau: float) -> DataFrame:
    """The AllPairs/PPJoin core over any ``(doc_id, sh)`` frame —
    factored out of :func:`q_dedup_prefix_filter_join` so its
    COMPLETENESS contract (exact equality with the brute-force
    τ-Jaccard self-join) can be property-tested on randomized corpora
    (tests/test_dedup.py), not just the documents fixture."""
    from pu4spark_spark.plans import cached

    toks = base.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    dfreq = toks.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    # the prefix table's ONE downstream consumer pattern is the
    # self-equi-join on the token key: persist it already
    # hash-partitioned by ``s`` so both join sides read the cached
    # layout co-partitioned (canChangeCachedPlanOutputPartitioning is
    # on in session.py) instead of re-exchanging the table twice —
    # one exchange at cache time replaces two at join time (guide §2.4)
    pref = cached(
        toks.join(dfreq, "s")
        .withColumn("__r", F.row_number().over(w))
        .filter(
            F.col("__r")
            <= F.col("n") - F.ceil(tau * F.col("n")) + 1
        )
        .select("s", "doc_id", "n", "__r")
        .repartition("s")
    )
    a = pref.select(
        F.col("s"),
        F.col("doc_id").alias("a_id"),
        F.col("n").alias("na"),
        F.col("__r").alias("ra"),
    )
    b = pref.select(
        F.col("s"),
        F.col("doc_id").alias("b_id"),
        F.col("n").alias("nb"),
        F.col("__r").alias("rb"),
    )
    min_overlap = F.ceil(
        tau / (1.0 + tau) * (F.col("na") + F.col("nb"))
    )
    overlap_ub = 1 + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            # length filter: J >= τ forces τ·|A| <= |B| <= |A|/τ
            & (F.col("nb") >= tau * F.col("na"))
            & (F.col("na") >= tau * F.col("nb"))
            # positional filter: achievable overlap must reach the
            # τ-implied minimum
            & (overlap_ub >= min_overlap)
        )
        .select("a_id", "b_id")
        .distinct()
    )
    sa = base.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", jaccard_sets(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= tau)
        .select("a_id", "b_id", "jaccard")
    )


SQL_DEDUP_PREFIX_FILTER_JOIN = f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
ne AS (SELECT * FROM base WHERE len(sh) > 0)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       {sql_jaccard_sets('a.sh', 'b.sh')} AS jaccard
FROM ne a JOIN ne b ON a.doc_id < b.doc_id
WHERE {sql_jaccard_sets('a.sh', 'b.sh')} >= {PREFIX_JACCARD_TAU}
"""


# -- bag-of-words cosine verification ------------------------------------

#: frequency-weighted near-dup verdict threshold
BOW_COSINE_THRESHOLD = 0.6


def q_dedup_bow_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BAG-OF-WORDS cosine over the MinHash-band candidate pairs
    — the frequency-weighted verify that set-based Jaccard can't give:
    two docs sharing the same vocabulary at very different token
    frequencies (one says a phrase once, the other fifty times) have
    high set-Jaccard but low BOW cosine, and vice versa a doc padded
    with one repeated rare token drags Jaccard down while the cosine
    stays honest about the shared mass.  Completes the verify matrix:
    set overlap (`dedup_ngram_jaccard`), dense embedding
    (`dedup_embedding_cosine`), and now sparse term-frequency.

    Scale shape: candidate generation is the shared band self-join
    (band-key exchange, O(candidates)); the sparse dot product runs
    through the postings — join candidates to per-doc (token, tf) on
    each side and sum tf_a·tf_b over the SHARED tokens only (the inner
    join IS the sparsity: absent tokens never materialize).  Two
    data-sized exchanges (tf build, dot rollup) on high-cardinality
    keys, no skew pivot.  tf products and norms are exact int64; the
    cosine is the fixed sqrt/div IEEE chain, so DuckDB hash-checks the
    verdicts bit-for-bit."""
    from pu4spark_spark.functions.textfns import tokens
    from pu4spark_spark.plans import cached

    docs = load_table(spark, "documents", sf_dir)
    base = cached(_doc_shingle_sets(spark, sf_dir))
    bands = cached(minhash_bands(base))
    cand = band_self_join_candidates(bands)
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm2")
    )
    ta = tf.select(
        F.col("doc_id").alias("a_id"), "tok", F.col("tf").alias("tfa")
    )
    tb = tf.select(
        F.col("doc_id").alias("b_id"), "tok", F.col("tf").alias("tfb")
    )
    dots = (
        cand.join(ta, "a_id")
        .join(tb, ["b_id", "tok"])
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a_id"), F.col("norm2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("b_id"), F.col("norm2").alias("nb"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= BOW_COSINE_THRESHOLD)
        .select("a_id", "b_id", "dot", "cosine")
    )


SQL_DEDUP_BOW_COSINE = f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh, {_sql_minhash_bands()} FROM base
),
bands AS (
  SELECT doc_id, u.band_pos, u.band_hash
  FROM sigs, {_UNNEST_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
),
norms AS (
  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS norm2 FROM tf
  GROUP BY doc_id
),
dots AS (
  SELECT c.a_id, c.b_id, CAST(SUM(ta.tf * tb.tf) AS BIGINT) AS dot
  FROM cand c
  JOIN tf ta ON ta.doc_id = c.a_id
  JOIN tf tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
  GROUP BY c.a_id, c.b_id
)
SELECT d.a_id, d.b_id, d.dot,
       CAST(d.dot AS DOUBLE)
         / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE)))
         AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.a_id
JOIN norms nb ON nb.doc_id = d.b_id
WHERE CAST(d.dot AS DOUBLE)
      / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE)))
      >= {BOW_COSINE_THRESHOLD}
"""


# -- embedding-cosine near-dup ------------------------------------------

from pu4spark_spark.functions.vectors import (  # noqa: E402
    QUANT,
    int_dot,
    quantized,
    sign_bucket,
    sql_sign_bucket,
)

COSINE_DUP_THRESHOLD = 0.4

#: sign-LSH dims for candidate blocking — 6 bits ⇒ 64 buckets (cuts
#: candidates to ~1.6% of all-pairs on the fixtures); widen the bit
#: list as the corpus grows so bucket count keeps scaling (unlike a
#: fixed-cardinality column, which makes blocks grow O(n))
COSINE_LSH_DIMS = [0, 10, 20, 30, 40, 50]


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadly-similar embedding pairs (quantized cosine ≥ 0.4) among
    sign-pattern LSH candidates.

    Candidates are pairs agreeing on the sign of all
    ``COSINE_LSH_DIMS`` coordinates (random-hyperplane LSH with axis
    hyperplanes): one equi-join shuffle on an integer bucket key whose
    cardinality grows with bit-width, so in-bucket verify work stays
    bounded at 100 TB.  Replaces the round-1 label blocking (10 fixed
    values ⇒ O(n²/10) all-pairs).  LSH recall tradeoff as usual: cosine
    ≥ 0.4 pairs disagreeing on any probed sign are missed.
    """
    from pu4spark_spark.plans import cached, spread

    emb = spread(load_table(spark, "embeddings", sf_dir))
    base = cached(
        emb.select(
            "vec_id",
            quantized(F.col("embedding")).alias("q"),
            sign_bucket("embedding", COSINE_LSH_DIMS).alias("bucket"),
        ).withColumn("norm2", int_dot(F.col("q"), F.col("q")))
    )
    a = base.select(
        F.col("vec_id").alias("a_id"),
        F.col("bucket"),
        F.col("q").alias("qa"),
        F.col("norm2").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("b_id"),
        F.col("bucket"),
        F.col("q").alias("qb"),
        F.col("norm2").alias("nb"),
    )
    cos = int_dot(F.col("qa"), F.col("qb")) / (
        F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("a_id", "b_id", "cosine")
    )


_COS_BUCKET_SQL = sql_sign_bucket("embedding", COSINE_LSH_DIMS)

SQL_DEDUP_EMBEDDING_COSINE = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {QUANT}) AS BIGINT)) AS q,
         {_COS_BUCKET_SQL} AS bucket
  FROM embeddings
),
normed AS (
  SELECT vec_id, bucket, q, list_dot_product(q, q) AS norm2 FROM base
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       list_dot_product(a.q, b.q) / (sqrt(a.norm2) * sqrt(b.norm2)) AS cosine
FROM normed a JOIN normed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.q, b.q) / (sqrt(a.norm2) * sqrt(b.norm2))
      >= {COSINE_DUP_THRESHOLD}
"""


def q_dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup verdicts: every vector gets ``keep`` or ``drop``,
    where a vector is dropped iff some LOWER-id vector is semantically
    near it (sign-bucket LSH candidate with quantized cosine ≥
    ``COSINE_DUP_THRESHOLD``) — the embedding-space analogue of
    keep-first dedup, and the decision table the SemDeDup-style
    pipeline feeds to the writer.

    Semantics contract (documented, deliberate): domination is ONE-hop
    — in a chain a–b–c, b drops because of a, and c drops because of b
    even though b itself dropped.  That matches per-cluster pruning
    (everything near anything earlier goes); for transitive-closure
    canonical selection see :func:`q_dedup_canonical_docs`.

    Scale shape: the pair graph is LSH-candidate-bounded (never
    O(n²)); the domination reduce is one map-side-combined
    groupBy(b_id); the verdict join is a left join on vec_id whose
    build side is the dropped set — corpus-derived, so no broadcast
    hint (AQE broadcasts iff it is actually small).
    """
    pairs = q_dedup_embedding_cosine(spark, sf_dir)
    dropped = pairs.groupBy(F.col("b_id").alias("vec_id")).agg(
        F.min("a_id").alias("kept_by")
    )
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.select("vec_id").join(dropped, "vec_id", "left").select(
        "vec_id",
        "kept_by",
        F.when(F.col("kept_by").isNull(), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("action"),
    )


SQL_DEDUP_SEMANTIC_KEEP = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {QUANT}) AS BIGINT)) AS q,
         {_COS_BUCKET_SQL} AS bucket
  FROM embeddings
),
normed AS (
  SELECT vec_id, bucket, q, list_dot_product(q, q) AS norm2 FROM base
),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM normed a JOIN normed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.q, b.q) / (sqrt(a.norm2) * sqrt(b.norm2))
        >= {COSINE_DUP_THRESHOLD}
),
dropped AS (
  SELECT b_id AS vec_id, MIN(a_id) AS kept_by FROM pairs GROUP BY b_id
)
SELECT e.vec_id, d.kept_by,
       CASE WHEN d.kept_by IS NULL THEN 'keep' ELSE 'drop' END AS action
FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
"""


# -- Spark ML MinHashLSH (built-in scale path; rows-only) ----------------

#: explicit corpus slice for the MLlib LSH parity demo (NOT a silent
#: cap — see the docstring below): doc_id % ML_LSH_SLICE_MOD == 0
ML_LSH_SLICE_MOD = 10


def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in ``ml.feature.MinHashLSH`` pipeline over hashed token
    vectors (``approxSimilarityJoin``) — Spark's native LSH engine;
    rows-only check (UDT/estimator internals aren't SQL-expressible).

    Runs on an EXPLICIT deterministic corpus slice
    (``doc_id % ML_LSH_SLICE_MOD == 0``), stated here per the repo's
    no-silent-caps rule: MLlib's MinHashLSH amplifies OR-only (each
    hash table is a single MinHash function, no AND-banding), so on a
    self-similar corpus its candidate buckets are corpus-frequency-
    sized and ``approxSimilarityJoin`` goes quadratic — measured 250 s
    for the FULL 5000-doc fixture at sf0.1 (~3M candidate pairs)
    vs 1.5 s for the banded, hot-bucket-capped production path
    (``dedup_minhash_lsh``).  This query exists to witness MLlib API
    parity, not to compete with the scale path; the slice keeps the
    parity demo honest about which engine you'd run at 100 TB.

    Registered as ``dedup_minhash_ml_slice`` since r6 (it ran full-
    corpus under the name ``dedup_minhash_ml`` through r5, so the old
    name's bench series ends there — ADVICE r5: don't compare the
    sliced runtime against the full-corpus one under the same name)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") % ML_LSH_SLICE_MOD == 0
    )
    tok_df = docs.select("doc_id", tokens("text").alias("toks"))
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 14, binary=True)
    feat = tf.transform(tok_df)
    # 2 OR-amplified tables keep recall adequate at the 0.5 distance
    # threshold while halving the explode×self-join fan-out — the
    # dominant cost of approxSimilarityJoin (measured 9.5 s → ~4 s at
    # sf0.01; the hand-built band pipeline above remains the scale path)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=2, seed=42)
    model = lsh.fit(feat)
    # distance ≤ 0.2 (Jaccard ≥ 0.8): the word-soup fixture is highly
    # self-similar — the original 0.5 threshold returned ~83k pairs, a
    # driver-collect burden in the correctness harness with no extra
    # API coverage demonstrated
    pairs = model.approxSimilarityJoin(feat, feat, 0.2, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
            F.col("jaccard_dist"),
        )
    )


SQL_DEDUP_MINHASH_ESTIMATE = _sql_minhash_estimate()

# -- shingle containment (superstring / subset detection) -----------------

#: flag a pair when either side is mostly contained in the other
CONTAINMENT_THRESHOLD = 0.5


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder): ``C(A,B) = |A∩B| / |A|``
    — the subset/superstring detector Jaccard misses.  A short doc
    fully embedded in a much longer one has low Jaccard (the union is
    dominated by the long doc) but containment ≈ 1 from the short
    side, which is exactly the quote/boilerplate-expansion case a
    near-dup pass should catch.

    Candidate generation reuses the MinHash band self-join (one
    band-key shuffle, O(candidates) verify — same scale shape as
    :func:`q_dedup_ngram_jaccard`); the verify step computes both
    directions from ONE intersection and keeps pairs where either
    direction clears the threshold.  Integer set sizes, one IEEE
    division per direction — oracle-checkable to the bit."""
    from pu4spark_spark.plans import cached

    base = cached(_doc_shingle_sets(spark, sf_dir))
    bands = cached(minhash_bands(base))
    cand = band_self_join_candidates(bands)
    sa = base.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("cont_ab", inter / F.size(F.col("sh_a")))
        .withColumn("cont_ba", inter / F.size(F.col("sh_b")))
        .filter(
            F.greatest(F.col("cont_ab"), F.col("cont_ba"))
            >= CONTAINMENT_THRESHOLD
        )
        .select("a_id", "b_id", "cont_ab", "cont_ba")
    )


def _sql_containment(a: str, b: str) -> str:
    inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
    return f"({inter} / CAST(len({a}) AS DOUBLE))"


SQL_DEDUP_CONTAINMENT = f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh, {_sql_minhash_bands()} FROM base
),
bands AS (
  SELECT doc_id, u.band_pos, u.band_hash
  FROM sigs, UNNEST([
      {{'band_pos': 0, 'band_hash': band0}},
      {{'band_pos': 1, 'band_hash': band1}},
      {{'band_pos': 2, 'band_hash': band2}},
      {{'band_pos': 3, 'band_hash': band3}}]) AS t(u)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       {_sql_containment('sa.sh', 'sb.sh')} AS cont_ab,
       {_sql_containment('sb.sh', 'sa.sh')} AS cont_ba
FROM cand
JOIN base sa ON sa.doc_id = a_id
JOIN base sb ON sb.doc_id = b_id
WHERE greatest({_sql_containment('sa.sh', 'sb.sh')},
               {_sql_containment('sb.sh', 'sa.sh')}) >= {CONTAINMENT_THRESHOLD}
"""


def q_dedup_graph_degree_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree histogram of the verified near-dup pair graph — the
    pre-clustering diagnostic: a heavy tail here means mega-clusters
    (boilerplate families) that will dominate connected components and
    should be routed to the exact-hash path instead.  Work beyond the
    pair pipeline is two map-side-combined aggregations over pair-sized
    data (per-node degree, then the ≤max-degree-row histogram)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    nodes = pairs.select(F.col("a_id").alias("id")).unionAll(
        pairs.select(F.col("b_id").alias("id"))
    )
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


SQL_DEDUP_DEGREE_HISTOGRAM = f"""
WITH {_sql_minhash_pair_ctes()},
nodes AS (
  SELECT a_id AS id FROM pairs UNION ALL SELECT b_id AS id FROM pairs
),
deg AS (SELECT id, COUNT(*) AS degree FROM nodes GROUP BY id)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs FROM deg GROUP BY degree
"""


def q_dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-configuration tuning table: for each way of splitting
    the 8 signature components into bands — (r=1,b=8) … (r=8,b=1) —
    the bucket count and the TOTAL candidate-pair volume Σ s·(s−1)/2,
    computed from bucket SIZES only (one groupBy per config — no
    self-join is ever materialized).  This is the "what would this
    config cost?" estimate you run on a sample before committing a
    100 TB dedup pass: more rows per band (larger r) ⇒ higher
    precision, fewer candidates; the table quantifies the trade on
    the actual corpus.  All integer arithmetic."""
    from functools import reduce as _reduce

    from pu4spark_spark.plans import cached

    # cache the shingle-ARRAY frame before the signature explode:
    # Generate inlines an interpreted HOF child and re-evaluates it per
    # OUTPUT row (per shingle — quadratic per doc; measured 9.2 s vs
    # 0.4 s for the explode pass at sf0.1).  Exploding from the
    # materialized arrays restores linear cost.
    base = cached(_doc_shingle_sets(spark, sf_dir))
    sigs = cached(minhash_signatures(base))
    out = []
    for r in (1, 2, 4, 8):
        b = N_HASHES // r
        cols = [F.col(c) for c in SIGNATURE_COLS]
        bands = [
            F.md5(
                F.concat_ws(
                    ":", F.lit(str(i)), *cols[i * r : (i + 1) * r]
                )
            )
            for i in range(b)
        ]
        exploded = sigs.select(
            F.posexplode(F.array(*bands)).alias("band_pos", "band_hash")
        )
        sizes = exploded.groupBy("band_pos", "band_hash").agg(
            F.count(F.lit(1)).alias("s")
        )
        out.append(
            sizes.agg(
                F.lit(r).alias("rows_per_band"),
                F.lit(b).alias("n_bands"),
                F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                F.sum(F.expr("(s * (s - 1)) DIV 2"))
                .cast("bigint")
                .alias("candidate_pairs"),
                F.max("s").cast("bigint").alias("hottest_bucket"),
            )
        )
    return _reduce(lambda x, y: x.unionByName(y), out)


def _sql_band_tuning() -> str:
    parts = []
    for r in (1, 2, 4, 8):
        b = N_HASHES // r
        sigs = [
            sql_minhash_component_sliced("sh", k, off)
            for k in range(N_HASHES // SLICES_PER_MD5)
            for off in SLICE_OFFSETS
        ]
        bands = ", ".join(
            "md5("
            + " || ':' || ".join([f"'{i}'"] + sigs[i * r : (i + 1) * r])
            + f") AS band{i}"
            for i in range(b)
        )
        unnest = ", ".join(
            f"{{'band_pos': {i}, 'band_hash': band{i}}}" for i in range(b)
        )
        parts.append(f"""
SELECT {r} AS rows_per_band, {b} AS n_bands,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS candidate_pairs,
       CAST(MAX(s) AS BIGINT) AS hottest_bucket
FROM (
  SELECT band_pos, band_hash, COUNT(*) AS s
  FROM (
    SELECT u.band_pos, u.band_hash
    FROM (SELECT doc_id, {bands}
          FROM (SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents)),
         UNNEST([{unnest}]) AS t(u)
  )
  GROUP BY band_pos, band_hash
)""")
    return "\nUNION ALL\n".join(parts)


SQL_DEDUP_BAND_TUNING = _sql_band_tuning()


# -- hot-bucket-capped LSH (skew control) --------------------------------

#: Max docs per band bucket before the bucket is skipped entirely.  A
#: bucket of size s contributes s·(s−1)/2 candidate pairs, so one hot
#: bucket (boilerplate headers, empty-ish pages, template text — every
#: web corpus has them) turns the band join quadratic while every other
#: task finishes.  Skipping over-populated buckets is the standard LSH
#: skew control at web scale (a hot bucket's members are near-dups of
#: *thousands* of docs — pair enumeration there is cluster work, not
#: pair work, and is handed to the clustering path instead).  The cap
#: is 2 at fixture scale so the sf0.01 corpus actually exercises the
#: drop path (max observed bucket = 3); production values are O(100s).
BAND_CAP = 2


def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with hot band buckets skipped
    (bucket size > ``BAND_CAP``) — :func:`q_dedup_minhash_lsh` plus the
    skew control every 100 TB dedup run needs.

    Execution shape: the bucket-size count is a window over
    ``(band_pos, band_hash)`` — the SAME key the candidate self-join
    hashes on, so the filter rides the join's own exchange (no extra
    shuffle; one hash partition on the band key serves count, filter,
    and join).  Work per bucket is then bounded by
    ``BAND_CAP·(BAND_CAP−1)/2`` regardless of corpus size — the
    worst-case task is O(cap²), not O(hottest-bucket²).

    Recall contract (documented, deliberate): pairs reachable ONLY
    through a dropped hot bucket are missed; at production scale those
    are boilerplate mega-clusters better handled by
    :func:`q_dedup_clusters` on the exact-hash graph.
    """
    from pu4spark_spark.plans import cached

    base = cached(_doc_shingle_sets(spark, sf_dir))
    wb = Window.partitionBy("band_pos", "band_hash")
    kept = cached(
        minhash_bands(base)
        .withColumn("__bucket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bucket_n") <= BAND_CAP)
        .drop("__bucket_n")
    )
    cand = band_self_join_candidates(kept)
    sa = base.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", jaccard_sets(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )


SQL_DEDUP_MINHASH_CAPPED = f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SH_SQL}) AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh, {_sql_minhash_bands()} FROM base
),
bands AS (
  SELECT doc_id, u.band_pos, u.band_hash
  FROM sigs, UNNEST([
      {{'band_pos': 0, 'band_hash': band0}},
      {{'band_pos': 1, 'band_hash': band1}},
      {{'band_pos': 2, 'band_hash': band2}},
      {{'band_pos': 3, 'band_hash': band3}}]) AS t(u)
),
kept AS (
  SELECT doc_id, band_pos, band_hash FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band_pos, band_hash) <= {BAND_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM kept a JOIN kept b
    ON a.band_pos = b.band_pos AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       {sql_jaccard_sets('sa.sh', 'sb.sh')} AS jaccard
FROM cand
JOIN base sa ON sa.doc_id = a_id
JOIN base sb ON sb.doc_id = b_id
WHERE {sql_jaccard_sets('sa.sh', 'sb.sh')} >= {JACCARD_THRESHOLD}
"""


# -- recursive CTE: in-engine graph traversal ------------------------------

#: BFS depth bound — walk enumeration under UNION ALL recursion is
#: bounded by Σ degree^HOPS per cluster, so the bound must stay small
DUP_HOPS_MAX = 4


def q_sql_recursive_dup_hops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ITERATIVE GRAPH TRAVERSAL pushed INTO the engine: Spark 4.1's
    ``WITH RECURSIVE`` (SPARK-24497) runs a bounded-depth BFS over the
    verified near-dup pair graph — minimum hop distance from each doc
    to its nearest LOCALLY-CANONICAL doc (a doc with no smaller-id
    neighbor, the keep-lowest policy's immediate winners).  Until 4.1
    every such loop lived in driver code (``connected_components``,
    ``dedup_pagerank``); the recursive CTE moves the iteration under
    Catalyst, where a SQL-only user can express it.

    Spark's recursion is UNION ALL-only (no fixpoint dedup), so the
    walk enumerates PATHS, not vertices — termination and work are
    bounded by the ``hops < {DUP_HOPS_MAX}`` guard, and MIN(hops) per
    node collapses the walk multiset to the BFS answer.  That is the
    honest scale contract: path growth ~ Σ_cluster degree^depth, safe
    exactly because near-dup clusters are small and sparse (the same
    property every operator in this family leans on); unbounded-depth
    reachability at scale belongs to the driver-loop CC operator.

    The oracle replays the IDENTICAL recursion in DuckDB on its own
    edge derivation — both engines enumerate the same bounded walk
    set, so (doc_id, hops) hash-checks."""
    # localCheckpoint the pair table BEFORE the view: every recursion
    # step re-reads the view, and a raw view would re-run the whole
    # shingle→band→verify pipeline once per iteration.  persist() is
    # NOT enough here — CacheManager substitution doesn't fire for
    # plans re-instanced through a recursive CTE (§5b lesson 22), so
    # the lineage must be physically truncated.
    pairs = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    pairs.createOrReplaceTempView("__dup_pairs")
    return spark.sql(f"""
WITH RECURSIVE edges AS (
  SELECT a_id AS u, b_id AS v FROM __dup_pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM __dup_pairs
),
seeds AS (
  SELECT u FROM edges GROUP BY u HAVING MIN(v) > u
),
walk(node, hops) AS (
  SELECT u, 0 FROM seeds
  UNION ALL
  SELECT e.v, w.hops + 1
  FROM edges e JOIN walk w ON e.u = w.node
  WHERE w.hops < {DUP_HOPS_MAX}
)
SELECT node AS doc_id, CAST(MIN(hops) AS INT) AS hops
FROM walk GROUP BY node
""")


def _sql_recursive_dup_hops_oracle() -> str:
    return f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
),
seeds AS (
  SELECT u FROM edges GROUP BY u HAVING MIN(v) > u
),
walk(node, hops) AS (
  SELECT u, 0 FROM seeds
  UNION ALL
  SELECT e.v, w.hops + 1
  FROM edges e JOIN walk w ON e.u = w.node
  WHERE w.hops < {DUP_HOPS_MAX}
)
SELECT node AS doc_id, CAST(MIN(hops) AS INTEGER) AS hops
FROM walk GROUP BY node
"""


# -- k-core decomposition (iterative peeling) -------------------------------

#: the core order: 2-core = drop pendant chains, keep cyclic mass
KCORE_K = 2
#: peel-round safety bound (each round removes ≥1 node or stops)
KCORE_MAX_ROUNDS = 30


def q_dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE decomposition of the near-dup graph by iterative peeling:
    repeatedly remove nodes of degree < k until none remain; survivors
    form the k-core (the densely duplicated backbone worth human
    review), and each removed node carries the ROUND it was peeled in
    (pendant docs round 1, chain docs later) — a duplication-depth
    signal cheaper than triangle counting.

    (k-core: Seidman 1983; peeling order = degeneracy ordering.)

    Third member of the driver-loop graph family
    (``connected_components``, ``dedup_pagerank``): per round ONE
    degree aggregate + one semi-join, loop state localCheckpoint'd and
    unpersisted (§5b lesson 21), the only collect is the 1-row
    convergence scalar.  Rounds ≤ graph degeneracy-peel depth, not
    corpus size.  Non-monotone deletion has no recursive-SQL form, so
    this is rows-only: pytest pins it to a CPython peeling reference
    on the collected fixture graph."""
    from pu4spark_spark.plans import cached

    from functools import reduce

    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    edges = cached(
        pairs.union(
            pairs.select(
                F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id")
            )
        )
    )
    nodes = edges.select(F.col("a_id").alias("doc_id")).distinct()
    # per-round job discipline (r15, guide §1.2): the EAGER victim
    # checkpoint is the round's single evaluation of the degree
    # aggregate — the convergence count then reads the checkpointed
    # partitions instead of re-running it, and the peel assignment is
    # assembled ONCE at the end (union of the per-round victim frames,
    # each a tiny LogicalRDD) instead of a nodes-sized join +
    # checkpoint every round.  2 data jobs per round, down from 4.
    peel_frames: list[DataFrame] = []
    live_edges = edges
    for rnd in range(1, KCORE_MAX_ROUNDS + 1):
        deg = live_edges.groupBy(F.col("a_id").alias("doc_id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        v = deg.filter(F.col("deg") < KCORE_K).select(
            "doc_id"
        ).localCheckpoint()
        # bounded driver scalar: ONE count (over the checkpointed
        # victims — no recompute) decides convergence
        if v.count() == 0:
            break
        # a victim loses all its edges this round, so it can never be
        # a victim again — the per-round frames are disjoint by
        # construction and their union IS the peel assignment
        peel_frames.append(v.withColumn("peel_round", F.lit(rnd)))
        next_edges = (
            live_edges.join(v, live_edges["a_id"] == v["doc_id"], "anti")
            .join(v, live_edges["b_id"] == v["doc_id"], "anti")
            .localCheckpoint()
        )
        if live_edges is not edges:
            live_edges.unpersist()
        live_edges = next_edges
    if peel_frames:
        rounds_tbl = reduce(DataFrame.unionByName, peel_frames)
        peeled = nodes.join(rounds_tbl, "doc_id", "left")
    else:
        peeled = nodes.withColumn("peel_round", F.lit(None).cast("int"))
    return peeled.select(
        "doc_id",
        F.col("peel_round").cast("int").alias("peel_round"),
        F.col("peel_round").isNull().alias("in_core"),
    )


QUERIES = {
    "sql_recursive_dup_hops": q_sql_recursive_dup_hops,
    "dedup_kcore": q_dedup_kcore,
    "dedup_exact_docs": q_dedup_exact_docs,
    "dedup_minhash_estimate": q_dedup_minhash_estimate,
    "dedup_events_first": q_dedup_events_first,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_capped": q_dedup_minhash_capped,
    "dedup_band_tuning": q_dedup_band_tuning,
    "dedup_graph_degree_histogram": q_dedup_graph_degree_histogram,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "dedup_clusters_incremental": q_dedup_clusters_incremental,
    "dedup_cluster_size_histogram": q_dedup_cluster_size_histogram,
    "dedup_triangles": q_dedup_triangles,
    "dedup_canonical_docs": q_dedup_canonical_docs,
    "dedup_cluster_quality": q_dedup_cluster_quality,
    # rows-only: iterated IEEE sums (CPython reference-tested)
    "dedup_incremental": q_dedup_incremental,
    "dedup_band_artifact_probe": q_dedup_band_artifact_probe,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_groups": q_dedup_simhash_groups,
    "dedup_simhash_hamming": q_dedup_simhash_hamming,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_prefix_filter_join": q_dedup_prefix_filter_join,
    "dedup_bow_cosine": q_dedup_bow_cosine,
    "dedup_containment": q_dedup_containment,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_semantic_keep": q_dedup_semantic_keep,
    "dedup_minhash_ml_slice": q_dedup_minhash_ml,
    "dedup_pagerank_int": q_dedup_pagerank_int,
}

ORACLE_SQL = {
    "sql_recursive_dup_hops": _sql_recursive_dup_hops_oracle(),
    "dedup_pagerank_int": SQL_DEDUP_PAGERANK_INT,
    # dedup_kcore: non-monotone iterative deletion — no SQL form;
    # CPython peeling reference in tests/test_dedup.py
    "dedup_exact_docs": SQL_DEDUP_EXACT_DOCS,
    "dedup_minhash_estimate": SQL_DEDUP_MINHASH_ESTIMATE,
    "dedup_events_first": SQL_DEDUP_EVENTS_FIRST,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_minhash_capped": SQL_DEDUP_MINHASH_CAPPED,
    "dedup_band_tuning": SQL_DEDUP_BAND_TUNING,
    "dedup_graph_degree_histogram": SQL_DEDUP_DEGREE_HISTOGRAM,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    # deliberately the SAME closure oracle: star CC ≡ min-label CC
    "dedup_clusters_star": SQL_DEDUP_CLUSTERS,
    # deliberately the SAME full-graph oracle: incremental must equal full
    "dedup_clusters_incremental": SQL_DEDUP_CLUSTERS,
    "dedup_cluster_size_histogram": SQL_DEDUP_CLUSTER_SIZE_HISTOGRAM,
    "dedup_triangles": SQL_DEDUP_TRIANGLES,
    "dedup_canonical_docs": SQL_DEDUP_CANONICAL,
    "dedup_cluster_quality": SQL_DEDUP_CLUSTER_QUALITY,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "dedup_band_artifact_probe": SQL_DEDUP_BAND_ARTIFACT_PROBE,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_simhash_groups": SQL_DEDUP_SIMHASH_GROUPS,
    "dedup_simhash_hamming": SQL_DEDUP_SIMHASH_HAMMING,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_prefix_filter_join": SQL_DEDUP_PREFIX_FILTER_JOIN,
    "dedup_bow_cosine": SQL_DEDUP_BOW_COSINE,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "dedup_embedding_cosine": SQL_DEDUP_EMBEDDING_COSINE,
    "dedup_semantic_keep": SQL_DEDUP_SEMANTIC_KEEP,
    # dedup_minhash_ml_slice: ML UDT internals — rows-only
}
