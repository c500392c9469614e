"""Deduplication operators over ``documents`` (SURVEY.md §2.10 U4/U5).

The full LLM-pipeline dedup ladder:

* exact        — md5-groupBy representative pick (U4)
* n-gram Jaccard — shingle self-join, exact similarity (U5 baseline)
* MinHash+LSH  — banded signature buckets → candidates → exact verify
* SimHash      — 48-bit fingerprint, chunk-banded Hamming pairs
* embedding    — quantized cosine within label blocks (near-dup by vector)

Everything is built-in Catalyst expressions — the shared hash across
engines is ``md5`` (identical algorithm in Spark and DuckDB), which is
what makes even the MinHash/SimHash pipelines oracle-checkable: the
minimum of md5 hex strings is a lexicographic MIN both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.vector import quantize, sql_cosine
from dmi_ingestor_spark.registry import register

# --------------------------------------------------------------------------
# U4 exact dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT
      md5(text) AS text_hash,
      MIN(doc_id) AS keep_doc_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc=(
        "U4 exact dedup: hash-groupBy on content, keep the smallest "
        "doc_id as representative. At 100 TB the md5 key makes the "
        "shuffle key 16 bytes instead of the full document, and the "
        "aggregate is partial+final (no document ever moves twice)."
    ),
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_exact_distinct",
    oracle="SELECT DISTINCT lang, source FROM documents",
    doc="U4: plain DISTINCT (dropDuplicates) over a projection.",
    tags=("dedup",),
)
def dedup_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents").select("lang", "source").distinct()


# --------------------------------------------------------------------------
# Shared shingle machinery
# --------------------------------------------------------------------------


def _shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct word n-grams, built JVM-side.

    tokens[i..i+n-1] joined by space, via transform over an index
    sequence (guarded for short docs — Spark's sequence() runs
    *descending* when start > stop, so the guard is required, not
    cosmetic).

    The token array is materialized in its own projection first: an
    inlined ``split()`` would be re-evaluated inside every lambda
    element (O(tokens²) splits per row — measured 6.5× slower at
    sf0.1). ``slice``+``array_join`` keeps the n-gram build a single
    pass per index under whole-stage codegen.
    """
    return _shingle_arrays(d, n).select(
        "doc_id", F.explode("sh_arr").alias("shingle")
    )


def _shingle_arrays(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh_arr): the distinct shingle *set* per doc, as an array.

    Dedup happens per doc with ``array_distinct`` BEFORE any explode: a
    row-level ``distinct()`` would shuffle every raw shingle string,
    while per-doc distinct is the same set (shingles are keyed by doc)
    and keeps the whole build a narrow map stage — at 100 TB that's the
    difference between shuffling the full shingle set and shuffling
    nothing.
    """
    toks = F.col("toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return d.select("doc_id", F.split(F.col("text"), " ").alias("toks")).select(
        "doc_id", F.array_distinct(grams).alias("sh_arr")
    )


def _spread(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Plan-time parallelism fix for CPU-heavy per-row pipelines.

    A small parquet input arrives as one partition, serializing the
    hash/signature work onto one core. Repartition only when the scan is
    narrower than the cluster — at 100 TB the scan already has ~1e6
    partitions and this is a no-op (no shuffle inserted).
    """
    target = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        return d.repartition(target)
    return d


_SQL_SHINGLES = """
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 2)) AS u(i)
"""


def _band_completions(sh, freq, common_rare):
    """Banded hot-shingle completion for candidate pairs (r9).

    Returns ``(common_warm, common_blaze)`` — per-pair shared-shingle
    counts for the WARM (count-join) and BLAZING (probe) df bands; see
    the PROBE_MIN_DF note for the cost model and the sf1 measurement
    that motivated the split. ``sh`` must be exactly (doc_id, shingle);
    ``common_rare`` supplies the candidate pairs (a_id, b_id, ...).
    """
    sh_warm = sh.join(
        freq.filter(
            (F.col("df") > MAX_SHINGLE_DF) & (F.col("df") <= PROBE_MIN_DF)
        ).select("shingle"),
        ["shingle"],
    )
    sh_blaze = sh.join(
        freq.filter(F.col("df") > PROBE_MIN_DF).select("shingle"), ["shingle"]
    )
    common_warm = (
        sh_warm.select(F.col("doc_id").alias("a_id"), "shingle")
        .join(sh_warm.select(F.col("doc_id").alias("b_id"), "shingle"), ["shingle"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_warm"))
    )
    common_blaze = (
        common_rare.select("a_id", "b_id")
        .join(sh_blaze.select(F.col("doc_id").alias("a_id"), "shingle"), ["a_id"])
        .join(
            sh_blaze.select(F.col("doc_id").alias("b_id"), "shingle"),
            ["b_id", "shingle"],
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_blaze"))
    )
    return common_warm, common_blaze


def _sql_band_ctes(sh: str, freq: str, cand: str, sfx: str = "") -> str:
    """Oracle twin of ``_band_completions``: the shw/shb instance CTEs
    plus common_warm/common_blaze, names suffixed with ``sfx`` so the
    shingle-size sweep can instantiate one block per rung."""
    return f"""
    shw{sfx} AS (
      SELECT s.doc_id, s.shingle FROM {sh} s
      JOIN {freq} f ON f.shingle = s.shingle
      WHERE f.df > {MAX_SHINGLE_DF} AND f.df <= {PROBE_MIN_DF}
    ),
    shb{sfx} AS MATERIALIZED (
      SELECT s.doc_id, s.shingle FROM {sh} s
      JOIN {freq} f ON f.shingle = s.shingle WHERE f.df > {PROBE_MIN_DF}
    ),
    -- WARM band completes by count-join (Sigma df^2 <= PROBE_MIN_DF x
    -- instances, |cand|-independent); BLAZING boilerplate completes by
    -- per-candidate probe (|cand| x blazing-per-doc). See PROBE_MIN_DF.
    common_warm{sfx} AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_warm
      FROM shw{sfx} a JOIN shw{sfx} b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    common_blaze{sfx} AS MATERIALIZED (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_blaze
      FROM {cand} c
      JOIN shb{sfx} x ON x.doc_id = c.a_id
      JOIN shb{sfx} y ON y.doc_id = c.b_id AND y.shingle = x.shingle
      GROUP BY 1, 2
    )"""


# --------------------------------------------------------------------------
# U5 n-gram Jaccard (exact pairwise over shared-shingle candidates)
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.20
# Document-frequency cap: shingles appearing in more than this many docs
# are excluded from CANDIDATE GENERATION (not from the exact verify).
# Standard near-dup practice — a df-k shingle alone contributes O(k²)
# join rows, so one boilerplate phrase shared by 1e6 docs would make the
# self-join quadratic. Pairs that share ONLY capped-hot shingles are
# below any useful Jaccard threshold anyway (hot shingles are by
# definition uninformative).
MAX_SHINGLE_DF = 100
# Completion-band boundary (r9). Shared-HOT-shingle counts for the
# candidate pairs can be completed two ways with identical results:
#   * count-join over the band's instances — cost Sigma df^2 over the
#     band, independent of |candidates|;
#   * probe per candidate pair — cost |candidates| x band-per-doc.
# The regimes flip: true boilerplate (df ~ 1e6) makes Sigma df^2
# catastrophic (probe wins), while a dense mid band — many shingles
# just over MAX_SHINGLE_DF, as in the fixtures' closed 31-word vocab
# at sf >= 1 — makes the probe's |cand| x hot-per-doc product the
# blow-up (count-join wins: r9 sf1 catch — 3,306 shingles with
# 100 < df <= 126 put ~7 hot shingles on every doc, so the probe
# shuffled ~1e9 rows and dedup_ngram_jaccard went 54 s at sf0.75 to
# 1126 s at sf1, while the same counts cost Sigma df^2/2 = 1.8e7
# join rows as a count-join — 30x less). So the hot side splits:
# WARM (MAX_SHINGLE_DF < df <= PROBE_MIN_DF) completes by count-join
# — Sigma df^2 <= PROBE_MIN_DF x warm instances, linear in corpus
# size with a bounded constant — and BLAZING (df > PROBE_MIN_DF, the
# real boilerplate) stays in probe form, bounded by |cand| x
# blazing-per-doc (a handful per doc in any open corpus). One static
# plan, near-optimal in both regimes; candidacy (>= 1 shared rare
# shingle) and the exact Jaccard arithmetic are unchanged.
PROBE_MIN_DF = 1000


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    freq AS MATERIALIZED (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ),
    shr AS (
      SELECT sh.doc_id, sh.shingle FROM sh
      JOIN freq USING (shingle) WHERE df <= {MAX_SHINGLE_DF}
    ),
    -- ONE count-join over RARE shingle instances yields candidacy
    -- (n_rare >= 1) and the rare-common count in a single aggregation:
    -- no candidate DISTINCT, no second corpus-scale self-join (r8 —
    -- the sf0.75 sweep caught the old cand+count-join+4-way-join plan
    -- spilling 64 GB at 60M candidate pairs)
    common_rare AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_rare
      FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),{_sql_band_ctes("sh", "freq", "common_rare")},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    scored AS (
      SELECT cr.a_id, cr.b_id,
             CAST(cr.n_rare + COALESCE(cw.n_warm, 0)
                  + COALESCE(cb.n_blaze, 0) AS DOUBLE)
               / (sa.n + sb.n - (cr.n_rare + COALESCE(cw.n_warm, 0)
                                 + COALESCE(cb.n_blaze, 0)))
               AS jaccard
      FROM common_rare cr
      LEFT JOIN common_warm cw ON cw.a_id = cr.a_id AND cw.b_id = cr.b_id
      LEFT JOIN common_blaze cb ON cb.a_id = cr.a_id AND cb.b_id = cr.b_id
      JOIN sizes sa ON sa.doc_id = cr.a_id
      JOIN sizes sb ON sb.doc_id = cr.b_id
    )
    SELECT a_id, b_id, jaccard FROM scored
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    doc=(
        "U5 baseline: exact 3-gram Jaccard, skew-capped. Candidate pairs "
        "are those sharing at least one shingle with document frequency "
        f"<= {MAX_SHINGLE_DF} (hot shingles are both uninformative and "
        "the quadratic-blowup hazard of a raw shingle equi-join); the "
        "Jaccard arithmetic is over FULL shingle sets — the cap bounds "
        "WHICH pairs are scored, never the arithmetic. Plan shape (r8, "
        "banded r9): one count-join over rare shingle instances "
        "produces candidacy AND the rare-common count in a single "
        "aggregation; shared WARM shingles (df <= PROBE_MIN_DF) "
        "complete by a second count-join, BLAZING boilerplate by a "
        "per-candidate probe — see the PROBE_MIN_DF cost model. "
        "Integer ratio => bit-exact vs the oracle. The MinHash variant "
        "below remains the 100 TB path."
    ),
    tags=("dedup", "similarity"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = _shingle_arrays(table(spark, sf_dir, "documents")).cache()
    sh = arrs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).cache()
    sh_rare = sh.join(
        freq.filter(F.col("df") <= MAX_SHINGLE_DF).select("shingle"), ["shingle"]
    )
    # ONE count-join over rare instances: candidacy (n_rare >= 1) and
    # the rare-common count in a single map-side-combining aggregation
    # — no candidate DISTINCT, no second corpus-scale self-join (r8:
    # the sf0.75 sweep caught the old plan spilling at 60M candidates)
    common_rare = (
        sh_rare.select(F.col("doc_id").alias("a_id"), "shingle")
        .join(sh_rare.select(F.col("doc_id").alias("b_id"), "shingle"), ["shingle"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_rare"))
        .cache()
    )
    # banded hot completion (r9): warm count-join + blazing probe
    common_warm, common_blaze = _band_completions(sh, freq, common_rare)
    sizes = arrs.select("doc_id", F.size("sh_arr").alias("n_sh"))
    n_common = (
        F.col("n_rare")
        + F.coalesce(F.col("n_warm"), F.lit(0))
        + F.coalesce(F.col("n_blaze"), F.lit(0))
    )
    jac = n_common.cast("double") / (F.col("na") + F.col("nb") - n_common)
    return (
        common_rare.join(common_warm, ["a_id", "b_id"], "left")
        .join(common_blaze, ["a_id", "b_id"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na")),
            ["a_id"],
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb")),
            ["b_id"],
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )


# --------------------------------------------------------------------------
# U5 MinHash + LSH
# --------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 bands × 4 rows
ROWS_PER_BAND = N_HASHES // N_BANDS

# Universal-hash MinHash (Carter-Wegman): one md5 per shingle yields a
# 60-bit base hash h; the i-th permutation is (a_i*h + b_i) mod P with
# P = 2^31-1 (Mersenne prime). h mod P < 2^31 and a_i < 2^31 keep every
# product under 2^62 — exact in int64 on BOTH engines, so the signature
# is oracle-reproducible while costing 1 string hash + 16 multiply-adds
# per shingle instead of 16 seeded md5 string hashes. (At sf0.1 the
# wall time is codegen-bound either way; the 16× hash reduction is the
# 100 TB design win.)
MINHASH_P = (1 << 31) - 1
# Fixed odd multipliers/offsets (Knuth multiplicative constant, reduced
# mod P); deterministic at plan time — no runtime randomness.
MINHASH_A = [((2 * i + 1) * 2654435761) % MINHASH_P for i in range(N_HASHES)]
MINHASH_B = [((i + 1) * 40503 * 65537) % MINHASH_P for i in range(N_HASHES)]


def _sql_minhash_cols() -> str:
    return ",\n        ".join(
        f"MIN((h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(N_HASHES)
    )


def _band_key(band: int) -> Column:
    parts = [F.col(f"mh{band * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
    return F.md5(F.concat_ws("|", *parts).cast("binary"))


def _sql_band_key(band: int) -> str:
    parts = " || '|' || ".join(
        f"CAST(mh{band * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )
    return f"md5({parts})"


# CTE chain shared by the pair query and the clustering query's oracle.
_SQL_MINHASH_CTES = f"""sh AS ({_SQL_SHINGLES}),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
               % {MINHASH_P} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {_sql_minhash_cols()}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_sql_band_key(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_common
      FROM cand c
      JOIN sh x ON x.doc_id = c.a_id
      JOIN sh y ON y.doc_id = c.b_id AND y.shingle = x.shingle
      GROUP BY c.a_id, c.b_id
    )
"""

_SQL_MINHASH_PAIRS = """
    SELECT v.a_id, v.b_id,
      CAST(v.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_common) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.a_id
    JOIN sizes sb ON sb.doc_id = v.b_id
    WHERE CAST(v.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_common) >= 0.5
"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_MINHASH_CTES}
    {_SQL_MINHASH_PAIRS}
    """,
    doc=(
        "U5 at scale: MinHash(16 universal-hash perms over one md5 base "
        "hash) + LSH(4 bands × 4). Signature = array_min over per-doc "
        "shingle arrays (pure map stage, shingles never shuffle); "
        "candidates = equi-join on (band, band_key) — O(collisions) not "
        "O(n²); exact-Jaccard verification only on candidates. The "
        "published banding scheme of Leskovec/Rajaraman/Ullman ch.3, "
        "expressed as three shuffles."
    ),
    tags=("dedup", "similarity", "flagship"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array-form MinHash: the shingle set stays an array column, so the
    # 16 signature components are array_min(transform(...)) — a pure map
    # stage with NO shuffle of shingles at all (the grouped-aggregate
    # formulation would shuffle every shingle string to compute the same
    # 16 MINs). Only doc_id + band keys ever move. The 60-bit base hash
    # array is materialized in its own projection so md5 runs ONCE per
    # shingle; the 16 permutations are multiply-add-mod int64 lambdas.
    base_h = F.transform(
        "sh_arr",
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P,
    )
    docs = (
        _shingle_arrays(_spread(spark, table(spark, sf_dir, "documents")))
        .filter(F.size("sh_arr") > 0)
        .withColumn("h_arr", base_h)
        .cache()
    )
    def _perm(i: int) -> Column:
        # NB: the transform lambda must be single-arg — a second arg
        # (even a defaulted one) makes PySpark pass the array index in.
        a, b, p = MINHASH_A[i], MINHASH_B[i], MINHASH_P
        return F.array_min(
            F.transform("h_arr", lambda h: (h * a + b) % p)
        ).alias(f"mh{i}")

    sig = docs.select("doc_id", *[_perm(i) for i in range(N_HASHES)])
    # Bands as one exploded array of structs (a union of N_BANDS selects
    # would re-run the signature per band); cached because the candidate
    # self-join scans it from both sides. Tiny by construction.
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"), _band_key(b).alias("band_key")
            )
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sig.select("doc_id", F.explode(band_arr).alias("bb"))
        .select("doc_id", "bb.band_id", "bb.band_key")
        .cache()
    )
    a = bands.select(F.col("doc_id").alias("a_id"), "band_id", "band_key")
    b_ = bands.select(F.col("doc_id").alias("b_id"), "band_id", "band_key")
    cand = (
        a.join(b_, ["band_id", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # Exact verification: fetch both shingle arrays per candidate pair by
    # broadcasting the (tiny) candidate set against the streaming doc
    # table — the corpus never shuffles — then array_intersect in-place.
    da = docs.select(F.col("doc_id").alias("a_id"), F.col("sh_arr").alias("a_sh"))
    db = docs.select(F.col("doc_id").alias("b_id"), F.col("sh_arr").alias("b_sh"))
    cand_a = da.join(F.broadcast(cand), ["a_id"])
    pairs = db.join(F.broadcast(cand_a), ["b_id"])
    n_common = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = n_common.cast("double") / (
        F.size("a_sh") + F.size("b_sh") - n_common
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("a_id", "b_id", "jaccard")
    )


# --------------------------------------------------------------------------
# U5 SimHash (48-bit, md5-derived, fully deterministic)
# --------------------------------------------------------------------------

SIMHASH_BITS = 48
HAMMING_MAX = 3
N_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // N_CHUNKS


def _hex_digit(hexstr: Column, pos: int) -> Column:
    return F.conv(F.substring(hexstr, pos + 1, 1), 16, 10).cast("long")


def _simhash_digit_cols() -> list[Column]:
    """Materialize the 12 hex digits of md5(token) once, pre-aggregation.

    Inlining ``md5(token)`` into all 48 vote aggregates would
    re-evaluate the hash (and the conv/substring digit extraction) per
    bit — measured ~3× slower at sf0.1 than this two-step projection.
    """
    h = F.md5(F.col("token").cast("binary"))
    return [_hex_digit(h, p).alias(f"d{p}") for p in range(SIMHASH_BITS // 4)]


def _simhash_agg_cols() -> list[Column]:
    """Per-bit signed vote sums over a doc's tokens (with multiplicity)."""
    cols = []
    for j in range(SIMHASH_BITS):
        bit = F.shiftright(F.col(f"d{j // 4}"), j % 4).bitwiseAND(F.lit(1))
        cols.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{j}"))
    return cols


def _sql_simhash_votes() -> str:
    terms = []
    for j in range(SIMHASH_BITS):
        digit = f"(strpos('0123456789abcdef', substr(md5(token), {j // 4 + 1}, 1)) - 1)"
        bit = f"(({digit} >> {j % 4}) & 1)"
        terms.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{j}")
    return ",\n        ".join(terms)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    votes AS (
      SELECT doc_id,
        {_sql_simhash_votes()}
      FROM toks GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
        {" + ".join(f"(CASE WHEN v{j} >= 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(SIMHASH_BITS))}
        AS simhash
      FROM votes
    ),
    chunks AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, simhash, {k} AS chunk_id, (simhash >> {k * CHUNK_BITS}) & {(1 << CHUNK_BITS) - 1} AS chunk FROM sig"
        for k in range(N_CHUNKS)
      )}
    )
    SELECT DISTINCT
      a.doc_id AS a_id,
      b.doc_id AS b_id,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM chunks a
    JOIN chunks b
      ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    doc=(
        "U5 SimHash: 48-bit md5-derived fingerprint (per-bit ±1 votes "
        "over tokens, one groupBy with 48 partial sums), then the "
        "standard pigeonhole trick — split into 4 chunks of 12 bits; any "
        "pair within Hamming≤3 must share ≥1 exact chunk, so candidates "
        "come from 4 equi-joins, never O(n²)."
    ),
    tags=("dedup", "similarity"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).select("doc_id", *_simhash_digit_cols())
    votes = toks.groupBy("doc_id").agg(*_simhash_agg_cols())
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") >= 0, F.lit(1)).otherwise(F.lit(0)).cast(
            "long"
        ) * F.lit(1 << j).cast("long")
        simhash = term if simhash is None else simhash + term
    sig = votes.select("doc_id", simhash.alias("simhash"))
    # Chunks via one exploded array (a union of N_CHUNKS selects would
    # re-run the 48-sum aggregate per chunk); cached because the
    # candidate self-join scans it from both sides.
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(k).alias("chunk_id"),
                F.shiftright(F.col("simhash"), k * CHUNK_BITS)
                .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
                .alias("chunk"),
            )
            for k in range(N_CHUNKS)
        ]
    )
    chunks = (
        sig.select("doc_id", "simhash", F.explode(chunk_arr).alias("cc"))
        .select("doc_id", "simhash", "cc.chunk_id", "cc.chunk")
        .cache()
    )
    a = chunks.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sh"), "chunk_id", "chunk"
    )
    b = chunks.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sh"), "chunk_id", "chunk"
    )
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("long")
    return (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (label-blocked)
# --------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    )
    SELECT
      a.label,
      a.vec_id AS a_id,
      b.vec_id AS b_id,
      {sql_cosine("a.qv", "b.qv")} AS sim
    FROM q a
    JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.qv", "b.qv")} >= 0.40
    """,
    doc=(
        "U5/U6 embedding near-dup: quantized cosine over pairs *within a "
        "label block* — the blocking key bounds the pair count (the same "
        "role LSH buckets play when no label exists). Shuffles on "
        "label; a block of m vectors costs O(m·dim) group input plus an "
        "O(ROW_TILE·m) cosine gram tile (operators/gram.py)."
    ),
    tags=("dedup", "similarity", "embeddings"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-label Arrow gram block (r7): the pair-join form evaluated the
    # cosine as an interpreted HOF closure over Σ block² pairs (~5e6 at
    # sf0.5 -> 150s+); one tiled gram per label block ships each vector
    # once.
    import numpy as np
    import pandas as pd

    from dmi_ingestor_spark.operators import gram

    # label.isNotNull(): the oracle's a.label = b.label join drops NULL
    # labels, but groupBy would keep a NULL-label group and emit pairs
    # the oracle never sees (latent parity divergence — ADVICE r8;
    # current fixtures are non-null, this pins the semantics).
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select("vec_id", "label", quantize(F.col("embedding")).alias("qv"))
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        v = np.stack(pdf["qv"].to_numpy()[order]).astype(np.float64)
        i, j, sim = gram.pairs_at_least(v, 0.40)  # a_id < b_id (sorted)
        return pd.DataFrame(
            {"label": pdf["label"].iloc[0], "a_id": ids[i], "b_id": ids[j], "sim": sim}
        )

    return emb.groupBy("label").applyInPandas(
        _block, "label int, a_id long, b_id long, sim double"
    )


# --------------------------------------------------------------------------
# Dedup clustering: connected components over the MinHash pair graph.
# Iterative min-label propagation on Spark; transitive closure via
# recursive CTE in the oracle — the "iterative algorithm" category,
# still hash-checked.
# --------------------------------------------------------------------------


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_MINHASH_CTES},
    pairs AS ({_SQL_MINHASH_PAIRS}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ),
    reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.id = e.v
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
    doc=(
        "Near-dup CLUSTERS (what a dedup pipeline actually drops on): "
        "connected components over the MinHash-LSH pair graph via "
        "iterative min-label propagation (operators/components.py), "
        "singletons labeled with their own id. Converges in O(cluster "
        "diameter) rounds, each one edge-set shuffle — the corpus never "
        "iterates."
    ),
    tags=("dedup", "components", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.components import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    # checkpoint_every=2: without per-round lineage cuts the unrolled
    # label-propagation plan reaches ~9 MB formatted (plan_audit cap
    # finding r4) — same stringification-OOM class as the k-core loop
    comp = connected_components(pairs, "a_id", "b_id", checkpoint_every=2)
    d = table(spark, sf_dir, "documents").select("doc_id")
    return d.join(F.broadcast(comp), d.doc_id == comp.node, "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )


@register(
    "dedup_bag_of_words",
    oracle="""
    WITH norm AS (
      SELECT
        doc_id,
        md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_key
      FROM documents
    )
    SELECT
      bag_key,
      CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
      CAST(COUNT(*) AS BIGINT) AS group_size
    FROM norm
    GROUP BY bag_key
    """,
    doc=(
        "U5: bag-of-words dedup — documents that are word-for-word "
        "permutations of each other collapse to one representative "
        "(sorted-token canonical form -> md5 -> min-doc_id winner). "
        "Sits between exact dedup (order-sensitive) and MinHash "
        "(partial overlap) on the dedup ladder; one 16-byte-key "
        "shuffle, same plan shape as dedup_exact, so it scales the "
        "same way."
    ),
    tags=("dedup", "documents"),
)
def dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.split(F.col("text"), " ")), " ")).alias(
            "bag_key"
        ),
    )
    return norm.groupBy("bag_key").agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("group_size"),
    )


@register(
    "dedup_substring_containment",
    oracle="""
    WITH tok AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    -- contained side keyed by its first 3-token shingle; container side
    -- explodes all token-aligned 3-shingles. LOSSLESS under the padded
    -- token-aligned containment below: if ' q ' occurs in ' p ', q's
    -- tokens align with p's token boundaries, so q's first shingle IS
    -- one of p's shingles. (The raw quadratic FROM docs p, docs q form
    -- computes the identical result but needs n^2 position() calls —
    -- 6.25e8 at sf0.5, minutes of sweep time for no extra evidence.)
    qk AS (
      SELECT doc_id, text,
             t[1] || ' ' || t[2] || ' ' || t[3] AS shingle
      FROM tok
    ),
    psh AS (
      SELECT DISTINCT doc_id, text,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    )
    SELECT DISTINCT p.doc_id AS container_id, q.doc_id AS contained_id
    FROM psh p JOIN qk q USING (shingle)
    WHERE p.doc_id <> q.doc_id
      AND position(' ' || q.text || ' ' IN ' ' || p.text || ' ') > 0
    """,
    doc=(
        "U5: substring-containment dedup — finds documents wholly "
        "contained in another (the boilerplate/quote case MinHash "
        "underweights). The oracle is the quadratic definition; the "
        "engine never goes all-pairs: any document contained in "
        "another shares its FIRST 3-token shingle with the container, "
        "so candidates are (first-shingle of q) equi-joined to the "
        "container's distinct-shingle explosion — lossless blocking, "
        "shuffle O(shingles), then contains() verifies candidates "
        "only. Same candidate-verify scale shape as MinHash-LSH."
    ),
    tags=("dedup", "containment", "documents"),
)
def dedup_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    toks = d.select("doc_id", "text", F.split(F.col("text"), " ").alias("w"))
    # contained side: keyed by its first 3-token shingle
    q = toks.select(
        F.col("doc_id").alias("contained_id"),
        F.col("text").alias("q_text"),
        F.concat_ws(" ", F.slice(F.col("w"), 1, 3)).alias("shingle"),
    )
    # container side: all distinct 3-shingles
    p = toks.select(
        F.col("doc_id").alias("container_id"),
        F.col("text").alias("p_text"),
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    " i -> concat_ws(' ', slice(w, i, 3)))"
                )
            )
        ).alias("shingle"),
    )
    cand = p.join(q, "shingle").filter(
        F.col("container_id") != F.col("contained_id")
    )
    # Space-padded TOKEN-ALIGNED containment on both engines (r7): the
    # unpadded char-level form admitted mid-token matches ("…data agg…"
    # contains "a agg…") that the first-shingle blocking can't see —
    # padding makes the blocking provably lossless: if ' q ' occurs in
    # ' p ', every q token is space-delimited in p, so q's first
    # 3-token shingle IS one of p's token-aligned shingles.
    return cand.filter(
        F.expr("position(concat(' ', q_text, ' ') IN concat(' ', p_text, ' ')) > 0")
    ).select("container_id", "contained_id").distinct()


# --------------------------------------------------------------------------
# U5 incremental dedup: delta batch vs existing corpus
# --------------------------------------------------------------------------

_INCR_SPLIT = 400  # doc_id < split = existing corpus, >= split = new batch

_SQL_INCR_CTES = _SQL_MINHASH_CTES.replace(
    "AND a.doc_id < b.doc_id",
    f"AND a.doc_id < {_INCR_SPLIT} AND b.doc_id >= {_INCR_SPLIT}",
)


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_SQL_INCR_CTES}
    {_SQL_MINHASH_PAIRS}
    """,
    doc=(
        "U5 incremental: near-dup check of a NEW document batch "
        "against the EXISTING corpus — the shape production dedup "
        "actually runs (nobody re-pairs the whole corpus per "
        "ingest). Same MinHash/LSH machinery as dedup_minhash_lsh, "
        "but the band join is asymmetric (delta bands probe base "
        "bands), so per ingest the work is O(delta × collisions): "
        "the base side's signatures are precomputed once and reused "
        "as the persisted index. Base/delta split is doc_id-derived "
        "so both engines see identical inputs."
    ),
    tags=("dedup", "similarity", "incremental"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_h = F.transform(
        "sh_arr",
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P,
    )
    docs = (
        _shingle_arrays(_spread(spark, table(spark, sf_dir, "documents")))
        .filter(F.size("sh_arr") > 0)
        .withColumn("h_arr", base_h)
        .cache()
    )

    def _perm(i: int) -> Column:
        a, b, p = MINHASH_A[i], MINHASH_B[i], MINHASH_P
        return F.array_min(
            F.transform("h_arr", lambda h: (h * a + b) % p)
        ).alias(f"mh{i}")

    sig = docs.select("doc_id", *[_perm(i) for i in range(N_HASHES)])
    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_key(b).alias("band_key"))
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sig.select("doc_id", F.explode(band_arr).alias("bb"))
        .select("doc_id", "bb.band_id", "bb.band_key")
        .cache()
    )
    base = bands.filter(F.col("doc_id") < _INCR_SPLIT).select(
        F.col("doc_id").alias("a_id"), "band_id", "band_key"
    )
    delta = bands.filter(F.col("doc_id") >= _INCR_SPLIT).select(
        F.col("doc_id").alias("b_id"), "band_id", "band_key"
    )
    cand = (
        delta.join(base, ["band_id", "band_key"])
        .select("a_id", "b_id")
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("a_id"), F.col("sh_arr").alias("a_sh"))
    db = docs.select(F.col("doc_id").alias("b_id"), F.col("sh_arr").alias("b_sh"))
    cand_a = da.join(F.broadcast(cand), ["a_id"])
    pairs = db.join(F.broadcast(cand_a), ["b_id"])
    n_common = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = n_common.cast("double") / (
        F.size("a_sh") + F.size("b_sh") - n_common
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("a_id", "b_id", "jaccard")
    )


@register(
    "dedup_cluster_select",
    oracle=f"""
    WITH RECURSIVE {_SQL_MINHASH_CTES},
    pairs AS ({_SQL_MINHASH_PAIRS}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ),
    reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.id = e.v
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT component,
           arg_max(doc_id, n_chars * 100000 + (99999 - doc_id)) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM labeled GROUP BY component
    """,
    doc=(
        "The curation step after clustering: per near-dup cluster, "
        "keep the HIGHEST-QUALITY document (longest, ties to the "
        "lowest id via an integer-folded argmax key) instead of the "
        "arbitrary min-id — what production dedup actually ships to "
        "training. Composes the full ladder in one plan: MinHash -> "
        "LSH -> verify -> connected components -> quality argmax; the "
        "oracle replays it with a recursive-CTE closure, so even the "
        "composed iterative pipeline is hash-checked end to end."
    ),
    tags=("dedup", "components", "curation"),
)
def dedup_cluster_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.components import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    # checkpoint_every=2: without per-round lineage cuts the unrolled
    # label-propagation plan reaches ~9 MB formatted (plan_audit cap
    # finding r4) — same stringification-OOM class as the k-core loop
    comp = connected_components(pairs, "a_id", "b_id", checkpoint_every=2)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = d.join(F.broadcast(comp), d.doc_id == comp.node, "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    ordk = F.col("n_chars") * 100_000 + (99_999 - F.col("doc_id"))
    return labeled.groupBy("component").agg(
        F.max_by("doc_id", ordk).alias("keep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# U5+: paragraph-level (chunk) dedup with document reconstruction
# --------------------------------------------------------------------------

# Fixed chunk width in whitespace tokens. Real corpora chunk on paragraph
# boundaries (\n\n); the fixture's documents are single-line token streams,
# so fixed-width windows stand in for paragraphs with identical plumbing.
PARA_CHUNK_TOKENS = 10


@register(
    "dedup_paragraph_rewrite",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i - 1 AS INT) AS chunk_idx,
             array_to_string(
               t[(i-1)*{PARA_CHUNK_TOKENS}+1 : i*{PARA_CHUNK_TOKENS}], ' '
             ) AS chunk
      FROM toks,
           UNNEST(range(1,
             CAST(ceil(len(t) / {PARA_CHUNK_TOKENS}.0) AS BIGINT) + 1)) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (
               PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup
    FROM ranked
    WHERE rn = 1
    GROUP BY doc_id
    """,
    doc=(
        "Paragraph-level corpus dedup with document rewrite (the "
        "C4/RefinedWeb move): chunk every document into fixed "
        f"{PARA_CHUNK_TOKENS}-token windows, keep only the globally FIRST "
        "occurrence of each chunk (ordered by doc_id, chunk_idx), then "
        "reassemble each document from its surviving chunks in original "
        "order. Scale shape: the keep-first pick is groupBy(md5(chunk)) → "
        "min(struct(doc_id, chunk_idx)) — a 16-byte shuffle key and a "
        "partial+final aggregate, NOT a global window — followed by an "
        "equi-join of winners back to chunk rows and an ordered "
        "collect_list per doc. Chunks shuffle at most twice; documents "
        "whose every chunk is elsewhere-first vanish (fully redundant)."
    ),
    tags=("dedup", "text", "training-pipeline"),
)
def dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    k = F.lit(PARA_CHUNK_TOKENS)
    n_chunks = F.ceil(F.size(toks) / k).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(F.slice(toks, i * k + F.lit(1), PARA_CHUNK_TOKENS), " "),
    )
    chunks = d.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk")
    ).withColumn("h", F.md5(F.col("chunk").cast("binary")))
    # Global keep-first per chunk hash: partial+final MIN on a 16-byte key.
    winners = chunks.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    ).select("h", F.col("w.doc_id").alias("doc_id"), F.col("w.chunk_idx").alias("chunk_idx"))
    kept = chunks.join(winners, ["h", "doc_id", "chunk_idx"], "inner")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("text_dedup"),
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup (crawl-frontier normalization)
# --------------------------------------------------------------------------


@register(
    "dedup_url_canonicalize",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN 'https://example.com/d/' || (doc_id // 6)
                           || '?id=' || (doc_id // 6)
               WHEN 1 THEN 'https://EXAMPLE.com/d/' || (doc_id // 6)
                           || '?id=' || (doc_id // 6)
               WHEN 2 THEN 'https://example.com:443/d/' || (doc_id // 6)
                           || '?id=' || (doc_id // 6)
               WHEN 3 THEN 'https://example.com/d/' || (doc_id // 6)
                           || '?utm_source=feed&id=' || (doc_id // 6)
               WHEN 4 THEN 'https://example.com/d/' || (doc_id // 6)
                           || '?id=' || (doc_id // 6) || '#section-2'
               ELSE        'https://example.com/d/' || (doc_id // 6)
                           || '/?id=' || (doc_id // 6)
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             'https://'
             || replace(lower(regexp_extract(
                  regexp_replace(url, '#.*$', ''), '^https://([^/]+)', 1)),
                ':443', '')
             || regexp_replace(
                  replace(
                    replace(regexp_replace(
                      regexp_replace(url, '#.*$', ''), '^https://[^/]+', ''),
                      'utm_source=feed&', ''),
                    '/?', '?'),
                  '/$', '') AS canonical_url
      FROM urls
    )
    SELECT canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY canonical_url
    """,
    doc=(
        "URL canonicalization dedup — the crawl-frontier normalizer "
        "every web-scale corpus pipeline runs before exact dedup: "
        "lowercase host, strip the default :443 port, drop utm_* "
        "tracking params, trailing slash and #fragment, then "
        "keep-first per canonical URL. The six per-doc variants are "
        "built deterministically from doc_id so the collapse factor "
        "is provable (6 variants -> 1 canonical). All string ops are "
        "Catalyst built-ins on a narrow projection; the only shuffle "
        "is the canonical-key aggregate — identical shape to "
        "dedup_exact at any scale."
    ),
    tags=("dedup", "url", "documents", "training-pipeline"),
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") / 6).cast("long").cast("string")
    m = F.col("doc_id") % 6
    base = F.concat(F.lit("https://example.com/d/"), g)
    url = (
        F.when(m == 0, F.concat(base, F.lit("?id="), g))
        .when(m == 1, F.concat(F.lit("https://EXAMPLE.com/d/"), g, F.lit("?id="), g))
        .when(m == 2, F.concat(F.lit("https://example.com:443/d/"), g, F.lit("?id="), g))
        .when(m == 3, F.concat(base, F.lit("?utm_source=feed&id="), g))
        .when(m == 4, F.concat(base, F.lit("?id="), g, F.lit("#section-2")))
        .otherwise(F.concat(base, F.lit("/?id="), g))
    )
    defrag = F.regexp_replace(url, "#.*$", "")
    host = F.replace(
        F.lower(F.regexp_extract(defrag, "^https://([^/]+)", 1)),
        F.lit(":443"),
        F.lit(""),
    )
    rest = F.regexp_replace(
        F.replace(
            F.replace(
                F.regexp_replace(defrag, "^https://[^/]+", ""),
                F.lit("utm_source=feed&"),
                F.lit(""),
            ),
            F.lit("/?"),
            F.lit("?"),
        ),
        "/$",
        "",
    )
    canonical = F.concat(F.lit("https://"), host, rest)
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_variants"),
        )
    )


# --------------------------------------------------------------------------
# LSH recall audit: the deduper's candidate generator vs exact truth
# --------------------------------------------------------------------------


@register(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH {_SQL_MINHASH_CTES},
    -- truth pairs with per-doc sizes CARRIED THROUGH the count-join and
    -- the J >= 0.5 test applied in the HAVING (r8 sf0.75 catch: the
    -- shared-pairs relation is ~60M rows in the fixtures' closed-vocab
    -- regime, and materializing it + two size joins spilled; filtering
    -- at aggregation keeps only the tiny truth set)
    she AS (
      SELECT sh.doc_id, sh.shingle, s.n_sh
      FROM sh JOIN sizes s USING (doc_id)
    ),
    truth AS MATERIALIZED (
      SELECT x.doc_id AS a_id, y.doc_id AS b_id
      FROM she x JOIN she y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id, x.n_sh, y.n_sh
      HAVING COUNT(*) * 2 >= x.n_sh + y.n_sh - COUNT(*)
    ),
    hit AS (
      SELECT t.a_id FROM truth t
      JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
    )
    SELECT
      CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth_pairs,
      CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidate_pairs,
      CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hits,
      CASE WHEN (SELECT COUNT(*) FROM truth) > 0
           THEN CAST(1000 * (SELECT COUNT(*) FROM hit)
                     // (SELECT COUNT(*) FROM truth) AS BIGINT)
      END AS recall_permille
    """,
    doc=(
        "Recall audit of the MinHash-LSH candidate generator against "
        "EXACT truth — index quality as a driver-checkable number, "
        "the dedup twin of sim_ann_recall_eval. Truth pairs (exact "
        "shingle-Jaccard >= 0.5) come from a shared-shingle equi-join "
        "— complete, because any pair at J >= 0.5 shares shingles — "
        "never an n^2 cross join; candidates are the production "
        "banding join, re-used verbatim. Per-doc sizes ride the "
        "shingle explode so the J test applies inside the count-join's "
        "aggregation — the shared-pairs relation is never materialized "
        "(r8). The count-join itself is the audit's cost and carries "
        "the known hot-shingle skew: at 100 TB this eval runs on a "
        "stratified sample, while the production path stays banded."
    ),
    tags=("dedup", "evaluation", "similarity", "documents"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_h = F.transform(
        "sh_arr",
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P,
    )
    docs = (
        _shingle_arrays(_spread(spark, table(spark, sf_dir, "documents")))
        .filter(F.size("sh_arr") > 0)
        .withColumn("h_arr", base_h)
        .cache()
    )

    def _perm(i: int) -> Column:
        a, b, p = MINHASH_A[i], MINHASH_B[i], MINHASH_P
        return F.array_min(
            F.transform("h_arr", lambda h: (h * a + b) % p)
        ).alias(f"mh{i}")

    sig = docs.select("doc_id", *[_perm(i) for i in range(N_HASHES)])
    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_key(b).alias("band_key"))
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sig.select("doc_id", F.explode(band_arr).alias("bb"))
        .select("doc_id", "bb.band_id", "bb.band_key")
        .cache()
    )
    cand = (
        bands.select(F.col("doc_id").alias("a_id"), "band_id", "band_key")
        .join(
            bands.select(F.col("doc_id").alias("b_id"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
        .cache()
    )
    # per-doc sizes ride the explode (free — no join), so the J >= 0.5
    # test applies INSIDE the count-join's aggregation and the ~60M
    # shared-pairs relation is never materialized (r8 sf0.75 catch:
    # shared + two size joins spilled in the closed-vocab regime).
    # 2c >= na + nb - c is the exact integer form of c/(na+nb-c) >= 0.5.
    she = docs.select(
        "doc_id", F.size("sh_arr").alias("n_sh"), F.explode("sh_arr").alias("shingle")
    )
    truth = (
        she.select(
            F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"), "shingle"
        )
        .join(
            she.select(
                F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"), "shingle"
            ),
            "shingle",
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(
            F.col("n_common") * 2 >= F.col("na") + F.col("nb") - F.col("n_common")
        )
        .select("a_id", "b_id")
        .cache()
    )
    hits = truth.join(cand, ["a_id", "b_id"])
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("v"))
    n_hit = hits.agg(F.count(F.lit(1)).cast("long").alias("v"))
    row = (
        n_truth.select(F.col("v").alias("n_truth_pairs"))
        .crossJoin(n_cand.select(F.col("v").alias("n_candidate_pairs")))
        .crossJoin(n_hit.select(F.col("v").alias("n_hits")))
    )
    return row.select(
        "n_truth_pairs",
        "n_candidate_pairs",
        "n_hits",
        F.when(
            F.col("n_truth_pairs") > 0,
            F.floor(1000 * F.col("n_hits") / F.col("n_truth_pairs")).cast(
                "long"
            ),
        ).alias("recall_permille"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (local-min selection, plagiarism-detection classic)
# --------------------------------------------------------------------------

WIN_K = 4  # fingerprint window: guarantees any shared run of
# >= WIN_K + 2 (shingle size 3 - 1) tokens shares a fingerprint


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                 1, 15) AS BIGINT) AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 3 + {WIN_K} - 1),
           UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    wins AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 0 PRECEDING
                          AND {WIN_K - 1} FOLLOWING) AS fp
      FROM sh
      QUALIFY pos <= MAX(pos) OVER (PARTITION BY doc_id) - {WIN_K - 1}
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_fp
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
    )
    SELECT a_id, b_id, n_shared_fp FROM pairs
    """,
    doc=(
        "Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken "
        "2003, the MOSS plagiarism detector): per document, take the "
        "MINIMUM shingle hash in every sliding window of 4 — the "
        "published guarantee is that any shared token run of at "
        "least window+shingle-1 tokens yields at least one shared "
        "fingerprint, while storing only ~2/(w+1) of the hashes. "
        "Pairs then meet on fingerprint equality (equi-join on the "
        "selected mins, never all shingles) with a shared-count "
        "floor. Spark side is one bounded-frame window over the "
        "per-doc shingle stream — position-local, embarrassingly "
        "parallel; the distinct fingerprints are the only thing "
        "that shuffles. Completes the dedup ladder with the "
        "substring-robust member between MinHash (set overlap) and "
        "SimHash (weighted bits)."
    ),
    tags=("dedup", "winnowing", "documents", "similarity"),
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 3 + WIN_K - 1
    )
    sh = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(t) - 3), "
                "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("pos0", "shingle"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WIN_K - 1)
    )
    wmax = Window.partitionBy("doc_id")
    wins = (
        sh.withColumn("fp", F.min("h").over(w))
        .withColumn("mx", F.max("pos").over(wmax))
        .where(F.col("pos") <= F.col("mx") - (WIN_K - 1))
    )
    fps = wins.select("doc_id", "fp").distinct()
    a = fps.select(F.col("doc_id").alias("a_id"), "fp")
    b = fps.select(F.col("doc_id").alias("b_id"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= 5)
    )


# --------------------------------------------------------------------------
# b-bit MinHash (Li & Konig 2010): 1-bit signatures packed into one BIGINT
# --------------------------------------------------------------------------

BBIT_K = 32  # one-bit components packed into a single 64-bit word
BBIT_A = [((2 * i + 5) * 2246822519) % MINHASH_P for i in range(BBIT_K)]
BBIT_B = [((i + 3) * 3266489917) % MINHASH_P for i in range(BBIT_K)]


def _sql_bbit_packed() -> str:
    terms = " + ".join(
        f"(MIN((h * {BBIT_A[i]} + {BBIT_B[i]}) % {MINHASH_P}) % 2) * {1 << i}"
        for i in range(BBIT_K)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "dedup_minhash_b_bit",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
               % {MINHASH_P} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_sql_bbit_packed()} AS packed
      FROM hashed GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    -- r8: candidate pairs from the DF-capped shingle join (same rare/
    -- hot split as dedup_ngram_jaccard — the uncapped self-join is
    -- Sigma df^2, boilerplate-quadratic on real corpora), hot counts
    -- completed in the banded warm/blazing form (r9; see
    -- PROBE_MIN_DF). Candidacy: >=1 shared rare AND >=2 shared total.
    freq AS MATERIALIZED (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ),
    shr AS (
      SELECT sh.doc_id, sh.shingle
      FROM sh
      JOIN freq f ON f.shingle = sh.shingle AND f.df <= {MAX_SHINGLE_DF}
    ),
    common_rare AS MATERIALIZED (
      SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS n_rare
      FROM shr x JOIN shr y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),{_sql_band_ctes("sh", "freq", "common_rare")},
    shared AS MATERIALIZED (
      SELECT cr.a_id, cr.b_id,
             cr.n_rare + COALESCE(cw.n_warm, 0) + COALESCE(cb.n_blaze, 0)
               AS n_common
      FROM common_rare cr
      LEFT JOIN common_warm cw ON cw.a_id = cr.a_id AND cw.b_id = cr.b_id
      LEFT JOIN common_blaze cb ON cb.a_id = cr.a_id AND cb.b_id = cr.b_id
      WHERE cr.n_rare + COALESCE(cw.n_warm, 0) + COALESCE(cb.n_blaze, 0) >= 2
    )
    SELECT s.a_id, s.b_id,
           CAST({BBIT_K} - bit_count(xor(pa.packed, pb.packed)) AS BIGINT)
             AS n_match_bits,
           CAST(((2 * ({BBIT_K} - bit_count(xor(pa.packed, pb.packed)))
                  - {BBIT_K}) * 1000) // {BBIT_K} AS BIGINT) AS est_permille,
           CAST((1000 * s.n_common)
                // (sa.n_sh + sb.n_sh - s.n_common) AS BIGINT)
             AS exact_permille
    FROM shared s
    JOIN sig pa ON pa.doc_id = s.a_id
    JOIN sig pb ON pb.doc_id = s.b_id
    JOIN sizes sa ON sa.doc_id = s.a_id
    JOIN sizes sb ON sb.doc_id = s.b_id
    """,
    doc=(
        "b-bit MinHash (Li & Konig, 2010): keep only the LOWEST BIT of "
        "each of 32 minhash permutations and pack the whole signature "
        "into ONE BIGINT — 64x smaller sketch storage than 16x64-bit "
        "minhashes, the difference between fitting a 100 TB corpus "
        "index in memory or not. Per shared-shingle candidate pair the "
        "similarity re-estimate is pure bit arithmetic (popcount of "
        "XNOR; E[match frac] = (1+J)/2 for b=1, so J-hat = 2f-1), "
        "reported next to the exact Jaccard so the estimator's error "
        "is itself hash-checked. Candidacy (r8) is >=1 shared DF-capped "
        "shingle and >=2 shared total — the same rare/hot split as the "
        "exact-Jaccard family, so the pair join is never Sigma df^2 "
        "over boilerplate shingles. NOTE this is a result-set CONTRACT "
        "(not just plan) change vs the pre-r8 '>=2 shared (any)' form: "
        "pairs sharing only hot (df>MAX_SHINGLE_DF) shingles are "
        "dropped by spec — such pairs are near-zero-Jaccard boilerplate "
        "(rationale below at the MAX_SHINGLE_DF derivation), and "
        "tests/test_dedup_similarity.py::test_df_cap_candidacy_lossless "
        "pins that no J>=0.5 pair can be hot-only. Signatures build map-side over the "
        "per-doc shingle arrays and join the pair relation AFTER the "
        ">=2 filter (pairs << shingle-join input, so post-joins beat "
        "widening the corpus-scale shuffle — measured both ways)."
    ),
    tags=("dedup", "similarity", "sketch", "scale"),
)
def dedup_minhash_b_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_h = F.transform(
        "sh_arr",
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P,
    )
    docs = (
        _shingle_arrays(_spread(spark, table(spark, sf_dir, "documents")))
        .filter(F.size("sh_arr") > 0)
        .withColumn("h_arr", base_h)
        .cache()
    )

    def _bit(i: int) -> Column:
        a, b = BBIT_A[i], BBIT_B[i]
        return (
            F.array_min(
                F.transform("h_arr", lambda h: (h * a + b) % MINHASH_P)
            )
            % 2
        ) * (1 << i)

    packed = sum(_bit(i) for i in range(BBIT_K)).cast("long")
    # candidacy from the DF-capped rare join + probe-form hot completion
    # (r8; same rare/hot split as dedup_ngram_jaccard — the uncapped
    # self-join is Sigma df^2, boilerplate-quadratic on real corpora).
    # Signatures/sizes join AFTER the >=2 filter, on the much smaller
    # pair relation — carrying them through the corpus-scale shingle
    # join doubled its shuffle width (measured 151 s vs 75 s at sf0.75).
    sig = docs.select("doc_id", packed.alias("packed"))
    sh = docs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).cache()
    sh_rare = sh.join(
        freq.filter(F.col("df") <= MAX_SHINGLE_DF).select("shingle"), ["shingle"]
    )
    common_rare = (
        sh_rare.select(F.col("doc_id").alias("a_id"), "shingle")
        .join(sh_rare.select(F.col("doc_id").alias("b_id"), "shingle"), ["shingle"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_rare"))
        .cache()
    )
    # banded hot completion (r9): warm count-join + blazing probe
    common_warm, common_blaze = _band_completions(sh, freq, common_rare)
    shared = (
        common_rare.join(common_warm, ["a_id", "b_id"], "left")
        .join(common_blaze, ["a_id", "b_id"], "left")
        .select(
            "a_id",
            "b_id",
            (
                F.col("n_rare")
                + F.coalesce(F.col("n_warm"), F.lit(0))
                + F.coalesce(F.col("n_blaze"), F.lit(0))
            ).alias("n_common"),
        )
        .filter(F.col("n_common") >= 2)
    )
    sizes = docs.select("doc_id", F.size("sh_arr").alias("n_sh"))
    j = (
        shared.join(
            sig.select(F.col("doc_id").alias("a_id"), F.col("packed").alias("pa")),
            "a_id",
        )
        .join(
            sig.select(F.col("doc_id").alias("b_id"), F.col("packed").alias("pb")),
            "b_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na")),
            "a_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb")),
            "b_id",
        )
    )
    n_match = (
        F.lit(BBIT_K)
        - F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    ).cast("long")
    est_num = (2 * n_match - BBIT_K) * 1000
    est = ((est_num - est_num % BBIT_K) / BBIT_K).cast("long")
    ex_num = 1000 * F.col("n_common")
    ex_den = F.col("na") + F.col("nb") - F.col("n_common")
    exact = ((ex_num - ex_num % ex_den) / ex_den).cast("long")
    return j.select(
        "a_id",
        "b_id",
        n_match.alias("n_match_bits"),
        est.alias("est_permille"),
        exact.alias("exact_permille"),
    )


# --------------------------------------------------------------------------
# Content-defined chunking (Rabin-style rolling-hash breakpoints)
# --------------------------------------------------------------------------

_CDC_W = 8  # rolling window
_CDC_DIV = 64  # breakpoint divisor -> expected chunk ~64 bytes
_CDC_B = 31
_CDC_P = 1_000_000_007


@register(
    "dedup_content_defined_chunking",
    oracle=f"""
    WITH chunked AS (
      SELECT doc_id, text,
             list_prepend(CAST(0 AS BIGINT),
               list_append(
                 list_filter(
                   generate_series({_CDC_W}, LENGTH(text)),
                   i -> list_reduce(
                          list_prepend(CAST(0 AS BIGINT),
                            list_transform(generate_series(i - {_CDC_W - 1}, i),
                              k -> CAST(ascii(substr(text,
                                     CAST(k AS INTEGER), 1)) AS BIGINT))),
                          (a, b) -> (a * {_CDC_B} + b) % {_CDC_P})
                        % {_CDC_DIV} = 0),
                 CAST(LENGTH(text) AS BIGINT))) AS bounds
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(substr(text,
                        CAST(bounds[CAST(k AS INTEGER) - 1] + 1 AS INTEGER),
                        CAST(bounds[CAST(k AS INTEGER)]
                             - bounds[CAST(k AS INTEGER) - 1] AS INTEGER)))
               AS chunk_md5,
             bounds[CAST(k AS INTEGER)]
               - bounds[CAST(k AS INTEGER) - 1] AS chunk_len
      FROM chunked,
           UNNEST(generate_series(2, len(bounds))) AS u(k)
      WHERE bounds[CAST(k AS INTEGER)] > bounds[CAST(k AS INTEGER) - 1]
    )
    SELECT
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks,
      CAST((1000 * COUNT(DISTINCT chunk_md5)) // COUNT(*) AS BIGINT)
        AS unique_permille,
      CAST(MAX(chunk_len) AS BIGINT) AS max_chunk_len,
      CAST(SUM(chunk_len) AS BIGINT) AS total_bytes
    FROM chunks
    """,
    doc=(
        "Content-defined chunking (Rabin-style: a chunk boundary falls "
        "wherever the w=8 rolling polynomial hash is 0 mod 64) plus the "
        "corpus-level chunk-dedup readout — the storage/dedup primitive "
        "behind rsync, backup dedup stores, and shift-resistant corpus "
        "near-dup detection (an insertion only perturbs chunks around "
        "it, unlike fixed-size blocks where everything downstream "
        "shifts). Boundaries, chunk slicing, and md5s all evaluate "
        "MAP-SIDE as nested higher-order functions (the per-position "
        "window fold is the same Rabin-Karp arithmetic as "
        "text_fingerprint); the only shuffles are the distinct-hash "
        "counts of the summary. Fully hash-checked against the same "
        "nested list comprehension in DuckDB."
    ),
    tags=("dedup", "chunking", "scale"),
)
def dedup_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    win_hash = lambda i: (
        F.aggregate(
            F.sequence(i - (_CDC_W - 1), i),
            F.lit(0).cast("long"),
            lambda a, k: (a * _CDC_B + F.ascii(F.substring(text, k, 1)))
            % _CDC_P,
        )
    )
    breaks = F.filter(
        F.sequence(F.lit(_CDC_W), F.length(text)),
        lambda i: win_hash(i) % _CDC_DIV == 0,
    )
    bounds = F.concat(
        F.array(F.lit(0).cast("int")),
        breaks,
        F.array(F.length(text)),
    )
    chunked = d.select("doc_id", text.alias("text"), bounds.alias("bounds"))
    # chunk slicing as one SQL-HOF expression (F.substring's Python
    # signature doesn't take lambda-bound Column offsets)
    chunks = chunked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(filter(transform(sequence(2, size(bounds)),"
                " k -> struct(bounds[k-2] AS lo, bounds[k-1] AS hi)),"
                " p -> p.hi > p.lo),"
                " p -> struct(md5(cast(substring(text, p.lo + 1, p.hi - p.lo)"
                " as binary)) AS m, cast(p.hi - p.lo as bigint) AS l))"
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.m").alias("chunk_md5"), F.col("c.l").alias("chunk_len"))
    num = 1000 * F.col("n_distinct_chunks")
    den = F.col("n_chunks")
    return (
        chunks.agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count_distinct("chunk_md5").cast("long").alias("n_distinct_chunks"),
            F.max("chunk_len").cast("long").alias("max_chunk_len"),
            F.sum("chunk_len").cast("long").alias("total_bytes"),
        )
        .select(
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            ((num - num % den) / den).cast("long").alias("unique_permille"),
            "max_chunk_len",
            "total_bytes",
        )
    )


# --------------------------------------------------------------------------
# Train/val split leakage: near-dups CROSSING the split boundary
# --------------------------------------------------------------------------


@register(
    "dq_split_leakage_near_dup",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    split AS (
      SELECT doc_id,
             CASE WHEN CAST(concat('0x',
                    substr(md5(concat('split-', CAST(doc_id AS VARCHAR))),
                           1, 8)) AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'val' END AS fold
      FROM documents
    ),
    freq AS MATERIALIZED (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ),
    shr AS (
      SELECT sh.doc_id, sh.shingle FROM sh
      JOIN freq USING (shingle) WHERE df <= {MAX_SHINGLE_DF}
    ),
    -- same single-count-join + BANDED hot completion as
    -- dedup_ngram_jaccard (r8 sf0.75 catch: the cand-DISTINCT +
    -- second self-join plan spilled at 60M candidate pairs; r9 sf1
    -- catch: the probe form blew up in the dense warm band)
    common_rare AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_rare
      FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),{_sql_band_ctes("sh", "freq", "common_rare")},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    scored AS (
      SELECT cr.a_id, cr.b_id,
             CAST(cr.n_rare + COALESCE(cw.n_warm, 0)
                  + COALESCE(cb.n_blaze, 0) AS DOUBLE)
               / (sa.n + sb.n - (cr.n_rare + COALESCE(cw.n_warm, 0)
                                 + COALESCE(cb.n_blaze, 0)))
               AS jaccard
      FROM common_rare cr
      LEFT JOIN common_warm cw ON cw.a_id = cr.a_id AND cw.b_id = cr.b_id
      LEFT JOIN common_blaze cb ON cb.a_id = cr.a_id AND cb.b_id = cr.b_id
      JOIN sizes sa ON sa.doc_id = cr.a_id
      JOIN sizes sb ON sb.doc_id = cr.b_id
    )
    SELECT s.a_id, s.b_id,
           fa.fold AS a_fold, fb.fold AS b_fold, s.jaccard
    FROM scored s
    JOIN split fa ON s.a_id = fa.doc_id
    JOIN split fb ON s.b_id = fb.doc_id
    WHERE s.jaccard >= {JACCARD_THRESHOLD} AND fa.fold <> fb.fold
    ORDER BY a_id, b_id
    """,
    doc=(
        "Split-LEAKAGE detection — the eval-hygiene check every "
        "training pipeline needs and most skip: after the standard "
        "deterministic hash split (md5, 80/20), find near-duplicate "
        "pairs that STRADDLE the train/val boundary; each one is a "
        "validation example the model effectively saw in training, "
        "silently inflating eval metrics. Machinery is the proven "
        "dedup ladder (DF-capped shared-shingle candidates + exact "
        "Jaccard verify), composed with the hash-split — candidates "
        "are bounded by the same skew cap, the cross-fold filter is "
        "two broadcast fold lookups. Run it before trusting any "
        "benchmark number; the decontamination twin "
        "(decontaminate_ngram_overlap) does the same against "
        "external benchmarks."
    ),
    tags=("dedup", "quality", "training-pipeline", "documents"),
)
def dq_split_leakage_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    fold = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split-"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
        < 8,
        "train",
    ).otherwise("val")
    split = d.select("doc_id", fold.alias("fold"))
    arrs = _shingle_arrays(d).cache()
    sh = arrs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).cache()
    sh_rare = sh.join(
        freq.filter(F.col("df") <= MAX_SHINGLE_DF).select("shingle"), ["shingle"]
    )
    # same single-count-join + BANDED hot completion as
    # dedup_ngram_jaccard (r8 sf0.75 catch: the cand-DISTINCT + second
    # corpus-scale self-join plan spilled at 60M candidate pairs; r9
    # sf1 catch: probe form blew up in the dense warm band)
    common_rare = (
        sh_rare.select(F.col("doc_id").alias("a_id"), "shingle")
        .join(sh_rare.select(F.col("doc_id").alias("b_id"), "shingle"), ["shingle"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_rare"))
        .cache()
    )
    common_warm, common_blaze = _band_completions(sh, freq, common_rare)
    sizes = arrs.select("doc_id", F.size("sh_arr").alias("n_sh"))
    n_common = (
        F.col("n_rare")
        + F.coalesce(F.col("n_warm"), F.lit(0))
        + F.coalesce(F.col("n_blaze"), F.lit(0))
    )
    scored = (
        common_rare.join(common_warm, ["a_id", "b_id"], "left")
        .join(common_blaze, ["a_id", "b_id"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na")),
            ["a_id"],
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb")),
            ["b_id"],
        )
        .select(
            "a_id",
            "b_id",
            (
                n_common.cast("double")
                / (F.col("na") + F.col("nb") - n_common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    fa = split.select(F.col("doc_id").alias("a_id"), F.col("fold").alias("a_fold"))
    fb = split.select(F.col("doc_id").alias("b_id"), F.col("fold").alias("b_fold"))
    return (
        scored.join(F.broadcast(fa), "a_id")
        .join(F.broadcast(fb), "b_id")
        .filter(F.col("a_fold") != F.col("b_fold"))
        .select("a_id", "b_id", "a_fold", "b_fold", "jaccard")
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# Shingle-size sensitivity sweep (the dedup hyperparameter, one query)
# --------------------------------------------------------------------------

_SWEEP_NS = (2, 3, 4)
_SWEEP_JS = 10**6


def _sweep_oracle() -> str:
    parts = []
    for n in _SWEEP_NS:
        grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        parts.append(f"""
    sh{n} AS (
      SELECT DISTINCT doc_id, {grams} AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
    ),
    freq{n} AS MATERIALIZED (
      SELECT shingle, COUNT(*) AS df FROM sh{n} GROUP BY shingle
    ),
    sizes{n} AS (SELECT doc_id, COUNT(*) AS n FROM sh{n} GROUP BY doc_id),
    -- r8/r9: same single-count-join + BANDED hot completion as
    -- dedup_ngram_jaccard — candidacy (>=1 shared rare shingle) and the
    -- rare-common count come from ONE aggregation with per-doc sizes
    -- carried through; no candidate DISTINCT, no cdocs re-join. (The
    -- n=2 rung's 31-word vocab makes every bigram hot — the rare join
    -- is tiny; warm counts by count-join, blazing by probe.)
    shr{n} AS (
      SELECT sh.doc_id, sh.shingle, s.n
      FROM sh{n} sh
      JOIN freq{n} f ON f.shingle = sh.shingle AND f.df <= {MAX_SHINGLE_DF}
      JOIN sizes{n} s ON s.doc_id = sh.doc_id
    ),
    common_rare{n} AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.n AS na, b.n AS nb, COUNT(*) AS n_rare
      FROM shr{n} a
      JOIN shr{n} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),{_sql_band_ctes(f"sh{n}", f"freq{n}", f"common_rare{n}", sfx=str(n))},
    scored{n} AS (
      SELECT ((cr.n_rare + COALESCE(cw.n_warm, 0) + COALESCE(cb.n_blaze, 0))
               * {_SWEEP_JS})
               // (cr.na + cr.nb
                   - (cr.n_rare + COALESCE(cw.n_warm, 0)
                      + COALESCE(cb.n_blaze, 0)))
               AS j_scaled
      FROM common_rare{n} cr
      LEFT JOIN common_warm{n} cw
        ON cw.a_id = cr.a_id AND cw.b_id = cr.b_id
      LEFT JOIN common_blaze{n} cb
        ON cb.a_id = cr.a_id AND cb.b_id = cr.b_id
    ),
    row{n} AS (
      SELECT {n} AS shingle_n,
             CAST((SELECT COUNT(*) FROM common_rare{n}) AS BIGINT)
               AS n_candidate_pairs,
             CAST(COUNT(*) FILTER (WHERE j_scaled >= {_SWEEP_JS} // 5)
                  AS BIGINT) AS n_pairs_over_j02,
             CAST(COALESCE(SUM(j_scaled), 0) AS BIGINT) AS j_scaled_sum
      FROM scored{n}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT shingle_n, n_candidate_pairs, n_pairs_over_j02, j_scaled_sum FROM row{n}"
        for n in _SWEEP_NS
    )
    return "WITH " + ",".join(parts) + f"\n    {selects} ORDER BY shingle_n"


@register(
    "dedup_shingle_size_sweep",
    oracle=_sweep_oracle(),
    doc=(
        "Shingle-size SENSITIVITY SWEEP — the hyperparameter study "
        "behind every near-dedup config choice, as one query: for "
        "n in (2,3,4), the DF-capped candidate-pair count, the pairs "
        "clearing Jaccard 0.2, and the scaled-integer Jaccard mass. "
        "Smaller n = more collisions/recall, larger n = precision; "
        "this emits the actual tradeoff curve on the corpus instead "
        "of folklore. Each rung is the proven dedup-ladder machinery "
        "(per-doc distinct shingles built map-side, skew-capped "
        "candidates, exact integer-ratio verify); the three rungs "
        "share the tokenize pass and run as independent branches."
    ),
    tags=("dedup", "training-pipeline", "documents"),
)
def dedup_shingle_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    outs = []
    for n in _SWEEP_NS:
        arrs = _shingle_arrays(d, n=n).cache()
        # r8/r9: same single-count-join + BANDED hot completion as
        # dedup_ngram_jaccard (sf0.75 + sf1 catches) — per-doc sizes
        # ride the explode, candidacy and n_rare from ONE aggregation
        she = arrs.select(
            "doc_id",
            F.size("sh_arr").alias("n_sh"),
            F.explode("sh_arr").alias("shingle"),
        )
        freq = (
            she.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).cache()
        )
        sh_rare = she.join(
            freq.filter(F.col("df") <= MAX_SHINGLE_DF).select("shingle"),
            ["shingle"],
        )
        common_rare = (
            sh_rare.select(
                F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"), "shingle"
            )
            .join(
                sh_rare.select(
                    F.col("doc_id").alias("b_id"),
                    F.col("n_sh").alias("nb"),
                    "shingle",
                ),
                ["shingle"],
            )
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id", "na", "nb")
            .agg(F.count(F.lit(1)).alias("n_rare"))
            .cache()
        )
        common_warm, common_blaze = _band_completions(
            she.select("doc_id", "shingle"), freq, common_rare
        )
        scored = (
            common_rare.join(common_warm, ["a_id", "b_id"], "left")
            .join(common_blaze, ["a_id", "b_id"], "left")
            .select(
                "na",
                "nb",
                (
                    F.col("n_rare")
                    + F.coalesce(F.col("n_warm"), F.lit(0))
                    + F.coalesce(F.col("n_blaze"), F.lit(0))
                ).alias("n_common"),
            )
            .select(
                F.expr(
                    f"(n_common * {_SWEEP_JS}) div (na + nb - n_common)"
                ).alias("j_scaled")
            )
        )
        n_cand = common_rare.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        )
        summary = scored.agg(
            # coalesce: the n=2 rung has ZERO candidates once every
            # bigram crosses the DF cap (sf>=~0.2), and SUM over no
            # rows is NULL while the oracle's COUNT FILTER is 0
            F.coalesce(
                F.sum((F.col("j_scaled") >= _SWEEP_JS // 5).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_pairs_over_j02"),
            F.coalesce(F.sum("j_scaled"), F.lit(0))
            .cast("long")
            .alias("j_scaled_sum"),
        )
        outs.append(
            n_cand.crossJoin(summary).select(
                F.lit(n).cast("long").alias("shingle_n"),
                "n_candidate_pairs",
                "n_pairs_over_j02",
                "j_scaled_sum",
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionAll(p)
    return out.orderBy("shingle_n")


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage weights (the scoring half of ER)
# ---------------------------------------------------------------------------

_FS_S = 10**6


@register(
    "dedup_fellegi_sunter",
    oracle=f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb,
             CAST(a.c_mktsegment = b.c_mktsegment AS BIGINT) AS g_segment,
             CAST(abs(round(a.c_acctbal * 100) - round(b.c_acctbal * 100))
                  <= 10000 AS BIGINT) AS g_balance,
             CAST(a.c_custkey % 2 = b.c_custkey % 2 AS BIGINT) AS g_parity,
             CAST(a.c_custkey % 10 = b.c_custkey % 10 AS BIGINT) AS is_match
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND CAST(round(a.c_acctbal * 100) AS BIGINT) // 100000
           = CAST(round(b.c_acctbal * 100) AS BIGINT) // 100000
       AND a.c_custkey < b.c_custkey
    ),
    long_form AS (
      SELECT 'segment' AS field, g_segment AS agree, is_match FROM pairs
      UNION ALL
      SELECT 'balance', g_balance, is_match FROM pairs
      UNION ALL
      SELECT 'parity', g_parity, is_match FROM pairs
    ),
    counts AS (
      SELECT field,
             CAST(SUM(is_match) AS BIGINT) AS n_match,
             CAST(SUM(agree * is_match) AS BIGINT) AS agree_match,
             CAST(SUM(1 - is_match) AS BIGINT) AS n_nonmatch,
             CAST(SUM(agree * (1 - is_match)) AS BIGINT) AS agree_nonmatch
      FROM long_form GROUP BY field
    )
    SELECT field, n_match, agree_match, n_nonmatch, agree_nonmatch,
           (agree_match * {_FS_S}) // n_match AS m_scaled,
           (agree_nonmatch * {_FS_S}) // n_nonmatch AS u_scaled,
           CAST(CASE WHEN agree_nonmatch = 0 THEN -1
                ELSE ((agree_match * {_FS_S}) // n_match) * {_FS_S}
                     // ((agree_nonmatch * {_FS_S}) // n_nonmatch) END
                AS BIGINT) AS fs_ratio_scaled
    FROM counts
    ORDER BY field
    """,
    doc=(
        "Fellegi-Sunter record-linkage weights — the SCORING half of "
        "entity resolution that the dedup ladder's candidate "
        "generation feeds: per comparison field, the m-probability "
        "P(agree | match) and u-probability P(agree | non-match) over "
        "blocked candidate pairs, and their ratio (the log-free form "
        "of the FS agreement weight; log2 of it is the additive "
        "match score). Blocking = (nation, 1000-dollar balance band) "
        "so the pair space is O(sum block^2), never n^2; the truth "
        "partition uses the fixture's entity convention (custkey mod "
        "10). All counts exact integers, ratios 1e6-scaled — "
        "hash-exact. On real data m/u start from these labeled "
        "counts and iterate EM; the aggregation shape is identical."
    ),
    tags=("dedup", "entity-resolution", "customer"),
)
def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    a = c.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_nationkey").alias("na"),
        F.col("c_mktsegment").alias("sa"),
        F.col("cents").alias("ca"),
        (F.col("cents") / 100000).cast("long").alias("band_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nb"),
        F.col("c_mktsegment").alias("sb"),
        F.col("cents").alias("cb"),
        (F.col("cents") / 100000).cast("long").alias("band_b"),
    )
    pairs = a.join(
        b,
        (F.col("na") == F.col("nb"))
        & (F.col("band_a") == F.col("band_b"))
        & (F.col("ka") < F.col("kb")),
    ).select(
        (F.col("sa") == F.col("sb")).cast("long").alias("g_segment"),
        (F.abs(F.col("ca") - F.col("cb")) <= 10000)
        .cast("long")
        .alias("g_balance"),
        (F.col("ka") % 2 == F.col("kb") % 2).cast("long").alias("g_parity"),
        (F.col("ka") % 10 == F.col("kb") % 10).cast("long").alias("is_match"),
    )
    long_form = None
    for field, col in (
        ("segment", "g_segment"),
        ("balance", "g_balance"),
        ("parity", "g_parity"),
    ):
        part = pairs.select(
            F.lit(field).alias("field"),
            F.col(col).alias("agree"),
            "is_match",
        )
        long_form = part if long_form is None else long_form.unionAll(part)
    counts = long_form.groupBy("field").agg(
        F.sum("is_match").cast("long").alias("n_match"),
        F.sum(F.col("agree") * F.col("is_match"))
        .cast("long")
        .alias("agree_match"),
        F.sum(1 - F.col("is_match")).cast("long").alias("n_nonmatch"),
        F.sum(F.col("agree") * (1 - F.col("is_match")))
        .cast("long")
        .alias("agree_nonmatch"),
    )
    return counts.select(
        "field",
        "n_match",
        "agree_match",
        "n_nonmatch",
        "agree_nonmatch",
        F.expr(f"(agree_match * {_FS_S}) div n_match").alias("m_scaled"),
        F.expr(f"(agree_nonmatch * {_FS_S}) div n_nonmatch").alias("u_scaled"),
        F.expr(
            f"CAST(CASE WHEN agree_nonmatch = 0 THEN -1 "
            f"ELSE ((agree_match * {_FS_S}) div n_match) * {_FS_S} "
            f"div ((agree_nonmatch * {_FS_S}) div n_nonmatch) END AS BIGINT)"
        ).alias("fs_ratio_scaled"),
    ).orderBy("field")


# --------------------------------------------------------------------------
# U5: corpus-internal exact-span dedup (the C4 / RefinedWeb n-gram pass)
# --------------------------------------------------------------------------

_SPAN_N = 13  # the standard 13-token exact-dup span of C4/MassiveText

_SQL_SPAN_GRAM = " || ' ' || ".join(f"t[i+{j}]" for j in range(_SPAN_N))


@register(
    "dedup_exact_span_ngram",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, md5({_SQL_SPAN_GRAM}) AS k
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - {_SPAN_N - 1})) AS u(i)
    ),
    df AS (SELECT k, COUNT(*) AS df FROM sh GROUP BY k)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(1000 * SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS dup_permille
    FROM sh s JOIN df d USING (k)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc=(
        "U5 corpus-internal exact-span dedup — the 13-token-span pass "
        "of C4 / MassiveText / RefinedWeb: any 13-gram occurring in "
        "more than one document is 'duplicated text', and each doc is "
        "scored by its duplicated-span fraction (the quantity those "
        "pipelines threshold to drop or trim docs). Spans are distinct "
        "per doc BEFORE the explode (array_distinct in the narrow map "
        "stage), keyed by md5 so the document-frequency shuffle moves "
        "16-byte keys, never 13-token strings; df and the per-doc "
        "rollup are two partial+final aggregates. At 100 TB this is "
        "the exact shape: no pair join ever forms — span df is a "
        "count, not a self-join — so the cost is two shuffles of "
        "O(total distinct spans) compact keys."
    ),
    tags=("dedup", "llm", "text"),
)
def dedup_exact_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = _shingle_arrays(
        _spread(spark, table(spark, sf_dir, "documents")), n=_SPAN_N
    ).filter(F.size("sh_arr") > 0)
    # cached: consumed by BOTH the span-df aggregate and the per-doc
    # rollup join — uncached, the tokenize+md5 explode runs twice
    # (no ReusedExchange across the two consumers, measured 1.6x)
    sh = arrs.select(
        "doc_id", F.explode("sh_arr").alias("g")
    ).select("doc_id", F.md5(F.col("g").cast("binary")).alias("k")).cache()
    df_rel = sh.groupBy("k").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_rel, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr("1000 * n_dup_spans div n_spans").alias("dup_permille"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# U5: incremental delta-vs-base near-dup probe (the production shape)
# --------------------------------------------------------------------------


@register(
    "dedup_incremental_delta_probe",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
               % {MINHASH_P} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {_sql_minhash_cols()}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_sql_band_key(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
      FROM bands d
      JOIN bands b
        ON d.band_id = b.band_id AND d.band_key = b.band_key
      WHERE d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.delta_id, c.base_id, COUNT(*) AS n_common
      FROM cand c
      JOIN sh x ON x.doc_id = c.delta_id
      JOIN sh y ON y.doc_id = c.base_id AND y.shingle = x.shingle
      GROUP BY c.delta_id, c.base_id
    ),
    agg AS (
      SELECT c.delta_id,
             COUNT(*) AS n_candidates,
             SUM(CASE WHEN CAST(COALESCE(v.n_common, 0) AS DOUBLE)
                      / (sd.n_sh + sb.n_sh - COALESCE(v.n_common, 0)) >= 0.5
                 THEN 1 ELSE 0 END) AS n_dup
      FROM cand c
      LEFT JOIN verified v
        ON v.delta_id = c.delta_id AND v.base_id = c.base_id
      JOIN sizes sd ON sd.doc_id = c.delta_id
      JOIN sizes sb ON sb.doc_id = c.base_id
      GROUP BY c.delta_id
    )
    SELECT u.doc_id AS delta_id,
           CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup,
           CAST(CASE WHEN COALESCE(a.n_dup, 0) = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS is_novel
    FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id % 10 = 0) u
    LEFT JOIN agg a ON a.delta_id = u.doc_id
    ORDER BY delta_id
    """,
    doc=(
        "U5 production shape: INCREMENTAL near-dedup of an arriving "
        "delta batch (doc_id % 10 = 0, ~10%) against the standing base "
        "corpus (the other 90%). The base side's banded MinHash index "
        "is exactly what a 100 TB pipeline keeps precomputed and "
        "bucketed by band_key between runs — so each incremental run "
        "signatures ONLY the delta, probes the band index with an "
        "equi-join (co-located when the index is bucketed; never a "
        "base self-join), and exact-verifies only the collision "
        "candidates. Per delta doc the output is its candidate count, "
        "verified-duplicate count (Jaccard >= 0.5) and a novelty flag "
        "— the admit/reject decision of the ingestion gate. Cost per "
        "run: O(delta + collisions), independent of |base| except "
        "through the (bounded) band-bucket collision rate."
    ),
    tags=("dedup", "llm", "incremental", "flagship"),
)
def dedup_incremental_delta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_h = F.transform(
        "sh_arr",
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P,
    )
    docs = (
        _shingle_arrays(_spread(spark, table(spark, sf_dir, "documents")))
        .filter(F.size("sh_arr") > 0)
        .withColumn("h_arr", base_h)
        .cache()
    )

    def _perm(i: int) -> Column:
        a, b, p = MINHASH_A[i], MINHASH_B[i], MINHASH_P
        return F.array_min(
            F.transform("h_arr", lambda h: (h * a + b) % p)
        ).alias(f"mh{i}")

    sig = docs.select("doc_id", *[_perm(i) for i in range(N_HASHES)])
    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_key(b).alias("band_key"))
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sig.select("doc_id", F.explode(band_arr).alias("bb"))
        .select("doc_id", "bb.band_id", "bb.band_key")
        .cache()
    )
    is_delta = F.col("doc_id") % 10 == 0
    cand = (
        bands.filter(is_delta)
        .select(F.col("doc_id").alias("delta_id"), "band_id", "band_key")
        .join(
            bands.filter(~is_delta).select(
                F.col("doc_id").alias("base_id"), "band_id", "band_key"
            ),
            ["band_id", "band_key"],
        )
        .select("delta_id", "base_id")
        .distinct()
    )
    # Exact verification: broadcast the (tiny) candidate set against the
    # streaming doc arrays — the corpus never shuffles.
    dd = docs.select(F.col("doc_id").alias("delta_id"), F.col("sh_arr").alias("d_sh"))
    db = docs.select(F.col("doc_id").alias("base_id"), F.col("sh_arr").alias("b_sh"))
    cand_d = dd.join(F.broadcast(cand), ["delta_id"])
    pairs = db.join(F.broadcast(cand_d), ["base_id"])
    n_common = F.size(F.array_intersect("d_sh", "b_sh"))
    jac = n_common.cast("double") / (F.size("d_sh") + F.size("b_sh") - n_common)
    agg = (
        pairs.select("delta_id", (jac >= 0.5).cast("long").alias("dup"))
        .groupBy("delta_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("dup").cast("long").alias("n_dup"),
        )
    )
    universe = docs.filter(is_delta).select(F.col("doc_id").alias("delta_id"))
    return (
        universe.join(agg, ["delta_id"], "left")
        .select(
            "delta_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(F.coalesce("n_dup", F.lit(0)) == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_novel"),
        )
        .orderBy("delta_id")
    )


# --------------------------------------------------------------------------
# U5: LSH banding hyperparameter sweep (the r-b tuning curve, measured)
# --------------------------------------------------------------------------

_TUNE_CONFIGS = ((8, 2), (4, 4), (2, 8))  # (bands, rows per band); 16 hashes


def _tune_sql_band_key(b: int, r: int, band: int) -> str:
    parts = " || '|' || ".join(
        f"CAST(mh{band * r + j} AS VARCHAR)" for j in range(r)
    )
    return f"md5({parts})"


def _tune_sql() -> str:
    band_selects = []
    for b, r in _TUNE_CONFIGS:
        for band in range(b):
            band_selects.append(
                f"SELECT '{b}x{r}' AS cfg, doc_id, {band} AS band_id, "
                f"{_tune_sql_band_key(b, r, band)} AS band_key FROM sig"
            )
    # every chain CTE MATERIALIZED: DuckDB 1.0 inlines plain CTEs, and
    # nc's shc x shc self-join would re-expand the whole
    # sh->sig->bands->cand pipeline exponentially (r7 sf0.5: filled
    # 80 GB of temp; same class as the graph_label_propagation catch)
    return f"""
    WITH sh AS MATERIALIZED ({_SQL_SHINGLES}),
    hashed AS MATERIALIZED (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
               % {MINHASH_P} AS h
      FROM sh
    ),
    sig AS MATERIALIZED (
      SELECT doc_id, {_sql_minhash_cols()} FROM hashed GROUP BY doc_id
    ),
    bands AS MATERIALIZED ({" UNION ALL ".join(band_selects)}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.cfg, a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a
      JOIN bands b ON a.cfg = b.cfg AND a.band_id = b.band_id
       AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    -- restrict the shared-shingle count-join to candidate DOCS and drop
    -- the correlated EXISTS (r7: DuckDB 1.0 decorrelated it across the
    -- uncapped Sigma df^2 shingle join and filled 80 GB of temp at
    -- sf0.5 even though the candidate set itself is ~14k pairs)
    cpairs AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM cand),
    cdocs AS MATERIALIZED (
      SELECT a_id AS doc_id FROM cpairs
      UNION SELECT b_id FROM cpairs
    ),
    shc AS MATERIALIZED (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN cdocs USING (doc_id)
    ),
    nc AS MATERIALIZED (
      SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS n_common
      FROM shc x JOIN shc y
        ON y.shingle = x.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT c.cfg, c.a_id, c.b_id,
             CASE WHEN CAST(n.n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - n.n_common) >= 0.5
                  THEN 1 ELSE 0 END AS is_dup
      FROM cand c
      JOIN sizes sa ON sa.doc_id = c.a_id
      JOIN sizes sb ON sb.doc_id = c.b_id
      JOIN nc n ON n.a_id = c.a_id AND n.b_id = c.b_id
    ),
    truth AS (
      SELECT DISTINCT a_id, b_id FROM verified WHERE is_dup = 1
    ),
    t AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT v.cfg,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(v.is_dup) AS BIGINT) AS n_verified,
           CAST((1000 * SUM(v.is_dup)) // COUNT(*) AS BIGINT)
             AS precision_permille,
           CAST(CASE WHEN t.n_truth = 0 THEN 1000
                ELSE (1000 * SUM(v.is_dup)) // t.n_truth END AS BIGINT)
             AS recall_permille
    FROM verified v CROSS JOIN t
    GROUP BY v.cfg, t.n_truth
    ORDER BY v.cfg
    """


@register(
    "dedup_lsh_band_tuning",
    oracle=_tune_sql(),
    doc=(
        "LSH banding hyperparameter sweep — the r-b tradeoff curve "
        "MEASURED on the corpus instead of read off the 1-(1-s^r)^b "
        "formula: the same 16-permutation MinHash signature is banded "
        "three ways (8x2 / 4x4 / 2x8), each config's band-collision "
        "candidates are exact-Jaccard verified, and the sweep reports "
        "candidates, verified dups, precision, and recall against the "
        "union of all configs' verified pairs (2x8 is the strict end: "
        "high precision, low recall; 8x2 the permissive end). This is "
        "the calibration run a dedup pipeline does ONCE on a sample "
        "before committing a banding to the full 100 TB pass — "
        "signatures are built once (array_min map stage, shingles "
        "never shuffle), the three configs share them, and candidate "
        "joins stay O(collisions) per config."
    ),
    tags=("dedup", "similarity", "tuning"),
)
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_h = F.transform(
        "sh_arr",
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P,
    )
    docs = (
        _shingle_arrays(_spread(spark, table(spark, sf_dir, "documents")))
        .filter(F.size("sh_arr") > 0)
        .withColumn("h_arr", base_h)
        .cache()
    )

    def _perm(i: int) -> Column:
        a, b, p = MINHASH_A[i], MINHASH_B[i], MINHASH_P
        return F.array_min(
            F.transform("h_arr", lambda h: (h * a + b) % p)
        ).alias(f"mh{i}")

    sig = docs.select("doc_id", *[_perm(i) for i in range(N_HASHES)])
    entries = []
    for b, r in _TUNE_CONFIGS:
        for band in range(b):
            key = F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{band * r + j}") for j in range(r)]
                ).cast("binary")
            )
            entries.append(
                F.struct(
                    F.lit(f"{b}x{r}").alias("cfg"),
                    F.lit(band).alias("band_id"),
                    key.alias("band_key"),
                )
            )
    bands = (
        sig.select("doc_id", F.explode(F.array(*entries)).alias("bb"))
        .select("doc_id", "bb.cfg", "bb.band_id", "bb.band_key")
        .cache()
    )
    a = bands.select("cfg", F.col("doc_id").alias("a_id"), "band_id", "band_key")
    b_ = bands.select(
        F.col("cfg").alias("cfg_b"),
        F.col("doc_id").alias("b_id"),
        F.col("band_id").alias("band_id_b"),
        F.col("band_key").alias("band_key_b"),
    )
    cand = (
        a.join(
            b_,
            (F.col("cfg") == F.col("cfg_b"))
            & (F.col("band_id") == F.col("band_id_b"))
            & (F.col("band_key") == F.col("band_key_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("cfg", "a_id", "b_id")
        .distinct()
        .cache()
    )
    da = docs.select(F.col("doc_id").alias("a_id"), F.col("sh_arr").alias("a_sh"))
    db = docs.select(F.col("doc_id").alias("b_id"), F.col("sh_arr").alias("b_sh"))
    pair_keys = cand.select("a_id", "b_id").distinct()
    pairs = (
        da.join(F.broadcast(pair_keys), ["a_id"])
        .join(db, ["b_id"])
    )
    n_common = F.size(F.array_intersect("a_sh", "b_sh"))
    jac_dup = (
        n_common.cast("double")
        / (F.size("a_sh") + F.size("b_sh") - n_common)
        >= 0.5
    ).cast("long")
    verified_pairs = pairs.select("a_id", "b_id", jac_dup.alias("is_dup")).cache()
    truth_n = (
        verified_pairs.filter(F.col("is_dup") == 1)
        .agg(F.count(F.lit(1)).alias("n_truth"))
    )
    scored = cand.join(verified_pairs, ["a_id", "b_id"])
    return (
        scored.crossJoin(F.broadcast(truth_n))
        .groupBy("cfg", "n_truth")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("is_dup").cast("long").alias("n_verified"),
        )
        .select(
            "cfg",
            "n_candidates",
            "n_verified",
            F.expr("(1000 * n_verified) div n_candidates").alias(
                "precision_permille"
            ),
            F.expr(
                "CAST(CASE WHEN n_truth = 0 THEN 1000 "
                "ELSE (1000 * n_verified) div n_truth END AS BIGINT)"
            ).alias("recall_permille"),
        )
        .orderBy("cfg")
    )


# ---------------------------------------------------------------------------
# Phonetic-key blocking (Soundex-family consonant classes)
# ---------------------------------------------------------------------------

# Consonant classes per the Soundex family (Odell & Russell's patent
# groups): labials=1, gutturals/sibilants=2, dentals=3, L=4, M/N=5, R=6.
_PH_FROM = "bfpvcgjkqsxzdtlmnr"
_PH_TO = "111122222222334556"


def _collapse_digit_runs(col):
    """Collapse runs of equal class digits. Six chained single-digit
    patterns instead of a backreference — DuckDB's RE2 regex engine has
    no backreferences, so the oracle must (and both sides do) use the
    backref-free form."""
    for d in "123456":
        col = F.regexp_replace(col, d + "{2,}", d)
    return col


@register(
    "dedup_phonetic_block_join",
    oracle=f"""
    WITH words AS (
      SELECT p_partkey, p_brand,
             regexp_extract(p_name, '^([a-z]+)', 1) AS w
      FROM part
    ),
    keyed AS (
      SELECT p_partkey, p_brand, w,
             upper(substr(w, 1, 1)) ||
             substr(
               regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(
                   translate(substr(w, 2), '{_PH_FROM}', '{_PH_TO}'),
                   '[^1-6]', '', 'g'),
                 '1{{2,}}', '1', 'g'), '2{{2,}}', '2', 'g'),
                 '3{{2,}}', '3', 'g'), '4{{2,}}', '4', 'g'),
                 '5{{2,}}', '5', 'g'), '6{{2,}}', '6', 'g') || '000',
               1, 3) AS pkey
      FROM words
    ),
    blocks AS (
      SELECT pkey,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words,
             CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
      FROM keyed GROUP BY pkey
    ),
    wcnt AS (
      SELECT pkey, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM keyed GROUP BY pkey, w
    ),
    pairs AS (
      -- closed form, NOT a self-join: rows are unique by p_partkey, so
      -- different-word pairs per block = C(N,2) - sum_w C(c_w,2)
      --                                = (N*(N-1) - sum c*(c-1)) / 2.
      -- The r9 sf1 sweep caught the join form materializing ~5e9 pair
      -- rows (8 blocks x ~25k parts) just to count them (350 s).
      SELECT pkey,
             (SUM(c)*(SUM(c)-1) - SUM(c*(c-1))) // 2 AS n_candidate_pairs
      FROM wcnt GROUP BY pkey
    )
    SELECT b.pkey, b.n_parts, b.n_distinct_words, b.n_brands,
           CAST(COALESCE(p.n_candidate_pairs, 0) AS BIGINT)
             AS n_candidate_pairs
    FROM blocks b LEFT JOIN pairs p ON p.pkey = b.pkey
    ORDER BY b.pkey
    """,
    doc=(
        "Phonetic-key blocking for name matching — the third classic "
        "fuzzy-blocking family beside edit-distance neighborhoods "
        "(join_edit_distance_blocked) and token blocking "
        "(join_fuzzy_token_blocked): words map to a Soundex-family "
        "key (first letter + consonant-class digits with adjacent "
        "dedup, the Odell-Russell patent groups), records sharing a "
        "key become candidate pairs, and the audit reports per-block "
        "cardinality and DIFFERENT-word candidate counts (the pairs a "
        "matcher would verify). The key is built from the same "
        "translate + regexp pipeline on both engines, so the blocking "
        "function itself is hash-checked, not just the counts. "
        "Blocking keys bound candidates to O(sum block^2) with "
        "phonetically-coherent blocks — the record-linkage shape "
        "census bureaus run at national scale."
    ),
    tags=("dedup", "blocking", "part"),
)
def dedup_phonetic_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("w"),
    ).select(
        "p_partkey",
        "p_brand",
        "w",
        F.concat(
            F.upper(F.substring("w", 1, 1)),
            F.substring(
                F.concat(
                    _collapse_digit_runs(
                        F.regexp_replace(
                            F.translate(
                                F.expr("substr(w, 2)"), _PH_FROM, _PH_TO
                            ),
                            "[^1-6]",
                            "",
                        )
                    ),
                    F.lit("000"),
                ),
                1,
                3,
            ),
        ).alias("pkey"),
    )
    keyed = keyed.cache()  # blocks + per-word counts
    blocks = keyed.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.countDistinct("w").cast("long").alias("n_distinct_words"),
        F.countDistinct("p_brand").cast("long").alias("n_brands"),
    )
    # Closed-form candidate count — see the oracle comment: the r9 sf1
    # sweep caught the self-join form shuffling ~5e9 pair rows to count
    # them. Per-word counts are all the formula needs; the aggregation
    # is map-side-combining and O(distinct words) regardless of block
    # skew, so a 100x bigger corpus with the same 8-block key space
    # costs 100x the scan, not 10000x the join.
    wcnt = keyed.groupBy("pkey", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pairs = wcnt.groupBy("pkey").agg(
        F.expr(
            "(sum(c)*(sum(c)-1) - sum(c*(c-1))) div 2"
        ).alias("n_candidate_pairs")
    )
    return (
        blocks.join(pairs, "pkey", "left")
        .fillna(0, ["n_candidate_pairs"])
        .select(
            "pkey", "n_parts", "n_distinct_words", "n_brands",
            F.col("n_candidate_pairs").cast("long").alias("n_candidate_pairs"),
        )
        .orderBy("pkey")
    )
