"""Similarity search over embeddings (SURVEY.md §2.10 U6).

Exact brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH bucketed variant as the 100 TB scale path
(candidates only within matching sign-buckets, then exact re-rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.vector import cosine, quantize, sql_cosine
from dmi_ingestor_spark.operators import gram
from dmi_ingestor_spark.registry import register

N_QUERY = 8  # vec_id < 8 are the query vectors
TOP_K = 5


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    scored AS (
      SELECT
        a.vec_id AS query_id,
        b.vec_id AS neighbor_id,
        {sql_cosine("a.qv", "b.qv")} AS sim,
        ROW_NUMBER() OVER (
          PARTITION BY a.vec_id
          ORDER BY {sql_cosine("a.qv", "b.qv")} DESC, b.vec_id
        ) AS rk
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERY}
    )
    SELECT query_id, neighbor_id, sim, rk
    FROM scored WHERE rk <= {TOP_K}
    """,
    doc=(
        "U6 exact ANN baseline: brute-force cosine top-k for a query set, "
        "quantized vectors for cross-engine bit-exactness. Spark plan "
        "(round 10, guide §4.2): ONE corpus pass — an Arrow kernel holds "
        "the bounded query matrix (vec_id < 8, plan-time read) and "
        "computes every batch's query×candidate gram with one numpy "
        "matmul, emitting only each batch's per-query top-k (≤ 40 rows/"
        "batch); the final window ranks that tiny superset. Replaces the "
        "broadcast-nested-loop × interpreted-HOF-cosine form whose "
        "window shuffled all 8N scored rows. The gram is "
        "operators/gram.py's exact-integer cosine, bit-identical to the "
        "oracle."
    ),
    tags=("similarity", "embeddings"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    qids, Q, _ = _query_side(sf_dir, N_QUERY)
    qn = gram.norms(Q)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["qv"].to_numpy())
            cos = gram.cosine(Q, v, qn, gram.norms(v))
            r, c = gram.topk(cos, ids, TOP_K, mask=gram.not_self(qids, ids))
            yield pd.DataFrame(
                {"query_id": qids[r], "neighbor_id": ids[c], "sim": cos[r, c]}
            )

    part = emb.mapInPandas(_score, "query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def sim_topk_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unregistered float twin of ``sim_topk_bruteforce``.

    Float cosine accumulation order is engine-specific, so a DuckDB
    oracle for this shape is flaky by construction; rather than carry a
    rows-only registry slot that duplicates the hash-green quantized
    twin, this lives as a plain helper exercised by
    ``tests/test_dedup_similarity.py::test_float_and_quantized_topk_agree``
    (≥90% rank agreement with the quantized plan)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("query_vec")
    )
    pairs = emb.select(F.col("vec_id").alias("neighbor_id"), "v").join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("sim", cosine(F.col("query_vec"), F.col("v")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


# -- LSH scale path ---------------------------------------------------------
N_PLANES = 8  # one 8-bit bucket key (256 buckets)


def _plane_literals(dim: int) -> list[list[float]]:
    """±1 hyperplane matrix, md5-derived, computed ONCE at plan time.

    h_ij = +1 if the first hex digit of md5("p{j}-{i}") is even else -1
    — deterministic, no stored model, reproducible across runs and
    engines. Values depend only on (j, i), so they are computed once:
    the numpy sign-pack (:func:`_signed_buckets`) and the oracle SQL
    both take them as constants. Shared by the LSH similarity kernels
    and ``cluster_dbscan_lsh_blocked``.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"p{j}-{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(N_PLANES)
    ]


def _embedding_dim(sf_dir: str) -> int:
    """Vector dimensionality, read from one parquet row at plan time.

    Handles both single-file and Spark directory parquet layouts;
    returns -1 for an empty table (all-partitions-pruned upstream).
    """
    import os

    import pyarrow.dataset as ds

    d = ds.dataset(os.path.join(sf_dir, "embeddings.parquet"), format="parquet")
    rows = d.head(1, columns=["embedding"])
    if rows.num_rows == 0:
        return -1
    return len(rows.column("embedding")[0])


def _query_side(sf_dir: str, max_id: int, with_label: bool = False):
    """The bounded query-side rows (vec_id < max_id), read at plan time.

    Same pyarrow plan-time read as :func:`_embedding_dim`; ``max_id`` is
    a compile-time constant (8/16/50), so the read is bounded by
    construction and corpus-independent — it moves exactly the rows a
    ``F.broadcast(queries)`` build would ship, but makes them available
    to the Arrow scoring kernels below (guide §4.2/§8: decide with the
    small side in native code, stream the corpus once).

    Returns ``(ids int64[nq], Q float64[nq, dim], labels | None)`` with
    Q quantized EXACTLY like :func:`functions.vector.quantize` /
    the oracle's ``round(CAST(x AS DOUBLE) * 1000)``: the float32 widens
    exactly to double, the ×1000 product is one IEEE rounding (identical
    in every engine), and the half-up rounding is done in ``decimal`` on
    the double's EXACT binary expansion — for scale 0, Python's
    ROUND_HALF_UP on the exact value and Java/DuckDB's HALF_UP on the
    shortest decimal representation agree for every double: a double
    displaying as x.5 IS exactly x.5 (half-integers < 2^52 are exact),
    and for any other double both representations lie strictly on the
    same side of every half-integer boundary.
    """
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow.dataset as ds

    cols = ["vec_id", "embedding"] + (["label"] if with_label else [])
    d = ds.dataset(os.path.join(sf_dir, "embeddings.parquet"), format="parquet")
    t = d.to_table(columns=cols, filter=ds.field("vec_id") < max_id)
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    one = Decimal(1)
    rows = t.column("embedding").to_pylist()
    q = np.array(
        [
            [
                float(Decimal(x * 1000.0).quantize(one, ROUND_HALF_UP))
                for x in row
            ]
            for row in rows
        ],
        dtype=np.float64,
    )
    if q.size == 0:
        q = q.reshape(0, max(_embedding_dim(sf_dir), 0))
    labels = t.column("label").to_pylist() if with_label else None
    return ids, q, labels


def _raw_query_side(sf_dir: str, max_id: int):
    """Like :func:`_query_side` but returns the RAW float components
    (exactly widened float32→double, no quantization) — for the
    sign-sketch kernels whose bit test is ``x > 0`` on the raw value."""
    import os

    import numpy as np
    import pyarrow.dataset as ds

    d = ds.dataset(os.path.join(sf_dir, "embeddings.parquet"), format="parquet")
    t = d.to_table(
        columns=["vec_id", "embedding"], filter=ds.field("vec_id") < max_id
    )
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    rows = t.column("embedding").to_pylist()
    r = np.array(rows, dtype=np.float64) if rows else np.zeros((0, 0))
    return ids, r


def _sign_words(v):
    """Two 32-bit sign words per row: bit i of word w is set iff
    v[:, 32w + i] > 0 — the numpy twin of the transform/aggregate sign
    fold (exact: the test is a raw comparison, no arithmetic)."""
    import numpy as np

    weights = 1 << np.arange(32, dtype=np.int64)
    w0 = ((v[:, :32] > 0) * weights).sum(axis=1)
    w1 = ((v[:, 32:64] > 0) * weights).sum(axis=1)
    return w0, w1


_POP8 = None


def _popcount64(x):
    """Per-element popcount of an int64 array via a 256-entry byte LUT
    (numpy < 2.0 has no bitwise_count)."""
    import numpy as np

    global _POP8
    if _POP8 is None:
        _POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    b = np.ascontiguousarray(x).view(np.uint8).reshape(*x.shape, 8)
    return _POP8[b].sum(axis=-1)


def _hamming(q0, q1, w0, w1):
    """(nq, n) Hamming distances between query and batch sign words."""
    return _popcount64(w0[None, :] ^ q0[:, None]) + _popcount64(
        w1[None, :] ^ q1[:, None]
    )


def _signed_buckets(df: DataFrame, col: str, planes: list[list[float]]) -> DataFrame:
    """``df`` plus a ``bucket`` column: the LSH sign signature of the
    integer-valued vector ``col`` under the ±1 hyperplane rows
    ``planes``, computed as ONE numpy matmul per Arrow batch.

    Bit j is set iff ``planes[j] · col >= 0``. Value-identical to the
    oracles' unrolled sums (:func:`_lsh_bucket_sql`): with integer
    components and ±1 plane entries every plane dot is an exact
    integer (see operators/gram.py). Map-shaped: no shuffle, the bucket
    key feeds the downstream groupBy/join exchange unchanged.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    h_t = np.asarray(planes, dtype=np.float64).T  # dim × planes
    weights = 2 ** np.arange(len(planes), dtype=np.int64)

    def _sig(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[col].to_numpy()).astype(np.float64, copy=False)
            yield pdf.assign(bucket=((v @ h_t >= 0) * weights).sum(axis=1))

    schema = StructType(df.schema.fields + [StructField("bucket", LongType())])
    return df.mapInPandas(_sig, schema)


LSH_DIM = 64  # embeddings table dimensionality (same contract as PQ_DIM)


def _lsh_bucket_sql(qv: str) -> str:
    """DuckDB twin of :func:`_signed_buckets` over quantized vectors.

    The same ±1 literal hyperplane rows are unrolled into
    ``list_dot_product`` calls, so both engines compute identical exact
    integer sums and identical sign bits.
    """
    planes = _plane_literals(LSH_DIM)
    terms = [
        f"CASE WHEN list_dot_product({qv}, "
        f"[{', '.join(str(int(h)) for h in plane)}]::DOUBLE[]) >= 0 "
        f"THEN {2 ** j} ELSE 0 END"
        for j, plane in enumerate(planes)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "sim_ann_lsh_buckets",
    oracle=f"""
    WITH vq AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    sig AS (SELECT vec_id, qv, {{bucket}} AS bucket FROM vq)
    SELECT a.bucket,
           a.vec_id AS a_id,
           b.vec_id AS b_id,
           {sql_cosine("a.qv", "b.qv")} AS sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.qv", "b.qv")} >= 0.25
    """.replace("{bucket}", _lsh_bucket_sql("qv")),
    doc=(
        "U6 scale path: random-hyperplane LSH. Each vector gets an 8-bit "
        "sign signature (deterministic md5-derived hyperplanes embedded "
        "as plan-time ±1 literal arrays, evaluated JVM-side); candidates "
        "are pairs sharing a bucket, re-ranked by exact cosine. At "
        "100 TB this is a bucket-key shuffle: O(n) shuffled rows, and "
        "per bucket of m vectors O(m·dim) group input plus an "
        "O(ROW_TILE·m) gram tile (operators/gram.py), instead of an "
        "O(n²) cross join. Quantized round(x*1000) vectors keep every "
        "dot product an exact integer, so the whole approximate index — "
        "bucket keys included — is hash-checked against the unrolled "
        "DuckDB oracle."
    ),
    tags=("similarity", "embeddings", "approx"),
)
def sim_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One numpy sign-pack per Arrow batch (_signed_buckets), then one
    # tiled self-gram per bucket. Replaces the bucket self-join (TWO
    # corpus scans + 2×corpus interpreted HOF signatures) and the
    # per-pair interpreted HOF cosine.
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    sig = _signed_buckets(emb, "qv", _plane_literals(LSH_DIM))

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        i, j, sim = gram.pairs_at_least(np.stack(pdf["qv"].to_numpy()[order]), 0.25)
        return pd.DataFrame(
            {"bucket": pdf["bucket"].iloc[0], "a_id": ids[i], "b_id": ids[j], "sim": sim}
        )

    return sig.groupBy("bucket").applyInPandas(
        _block, "bucket long, a_id long, b_id long, sim double"
    )


@register(
    "sim_ann_recall_eval",
    oracle=f"""
    WITH vq AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    sig AS (SELECT vec_id, qv, {{bucket}} AS bucket FROM vq),
    exact AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {sql_cosine("a.qv", "b.qv")} DESC, b.vec_id
             ) AS rk
      FROM vq a JOIN vq b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERY}
      QUALIFY rk <= {TOP_K}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      WHERE a.vec_id < {N_QUERY}
    ),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact e
      JOIN cand c ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT q.query_id,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) * 200 AS recall_permille
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h USING (query_id)
    """.replace("{bucket}", _lsh_bucket_sql("qv")),
    doc=(
        "U6 index-quality evaluation as a first-class query: recall@5 of "
        "the LSH candidate generator against the exact brute-force "
        "ground truth, per query vector. Both sides are deterministic "
        "integer-exact pipelines, so the recall numbers themselves are "
        "hash-checked (recall_permille = hits × 1000/5). The production "
        "loop this models — sample queries, compute exact truth on the "
        "sample only (O(sample·n), broadcast sample), probe the index, "
        "join — never materializes all-pairs, so it runs at any corpus "
        "size; sweeping N_PLANES against this query is how the "
        "bucket-count/recall trade-off gets tuned before a 100 TB build."
    ),
    tags=("similarity", "embeddings", "eval"),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    exact = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    # the query side's vec_id filter is applied BEFORE the opaque Arrow
    # pass so the scan pushdown survives (guide §4 — Spark cannot push
    # filters through mapInPandas), leaving the corpus-side pass as the
    # only full scan
    planes = _plane_literals(LSH_DIM)
    a = _signed_buckets(emb.filter(F.col("vec_id") < N_QUERY), "qv", planes).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    b = _signed_buckets(emb, "qv", planes).select(
        F.col("vec_id").alias("neighbor_id"), "bucket"
    )
    cand = (
        a.join(b, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    hits = (
        exact.join(cand, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    n = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return qs.join(hits, ["query_id"], "left").select(
        "query_id",
        n.alias("n_hits"),
        (n * F.lit(200)).cast("long").alias("recall_permille"),
    )


# --------------------------------------------------------------------------
# U6 scale path #3: product quantization (PQ) + asymmetric distance (ADC).
# --------------------------------------------------------------------------

PQ_DIM = 64  # embeddings table dimensionality (asserted at runtime)
PQ_M = 8  # subspaces
PQ_SUB = PQ_DIM // PQ_M  # dims per subspace
PQ_K = 16  # centroids per subspace → 4-bit codes


def _pq_codebook() -> list[list[list[int]]]:
    """Deterministic md5-derived codebook, computed ONCE at plan time.

    C[m][k][j] = (md5int("pq-{m}-{k}-{j}") % 601) - 300 — integers in
    the quantized vector space (round(x*1000), data range ≈ ±400), no
    stored model, identical literals embedded in the Spark plan and the
    DuckDB oracle. A trained codebook would drop in unchanged: only the
    literals change, not the plan shape.
    """
    import hashlib

    def h(m: int, k: int, j: int) -> int:
        d = hashlib.md5(f"pq-{m}-{k}-{j}".encode()).hexdigest()
        return int(d[:12], 16) % 601 - 300

    return [
        [[h(m, k, j) for j in range(PQ_SUB)] for k in range(PQ_K)]
        for m in range(PQ_M)
    ]


def _pq_oracle() -> str:
    """Unrolled integer-exact PQ encode + ADC top-k as DuckDB SQL."""
    cb = _pq_codebook()
    vals = ",\n      ".join(
        f"({m}, {k}, [{', '.join(str(c) for c in cb[m][k])}]::BIGINT[])"
        for m in range(PQ_M)
        for k in range(PQ_K)
    )
    # dist(vec subspace m, centroid list c): Σ_j (iv[m*SUB+j] - c[j])²
    d2 = " + ".join(
        f"(iv[m*{PQ_SUB}+{j + 1}]-c[{j + 1}])*(iv[m*{PQ_SUB}+{j + 1}]-c[{j + 1}])"
        for j in range(PQ_SUB)
    )
    adc = " + ".join(
        f"(q.iv[cb.m*{PQ_SUB}+{j + 1}]-cb.c[{j + 1}])"
        f"*(q.iv[cb.m*{PQ_SUB}+{j + 1}]-cb.c[{j + 1}])"
        for j in range(PQ_SUB)
    )
    return f"""
    WITH cb(m, k, c) AS (VALUES
      {vals}
    ),
    vq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    cand AS (
      SELECT vq.vec_id, cb.m, cb.k, {d2} AS dist
      FROM vq CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, k) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, co.vec_id AS neighbor_id,
             CAST(SUM({adc}) AS BIGINT) AS adc_dist
      FROM vq q
      JOIN codes co ON co.vec_id <> q.vec_id
      JOIN cb ON cb.m = co.m AND cb.k = co.code
      WHERE q.vec_id < {N_QUERY}
      GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, rk FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= {TOP_K}
    """


def _int_vec(vec: F.Column) -> F.Column:
    """array<float> → array<bigint>, round(x*1000) — exact both engines."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * 1000, 0).cast("long")
    )


@register(
    "sim_pq_adc",
    oracle=_pq_oracle(),
    doc=(
        "U6 scale path: product quantization. Each 64-dim vector is "
        "split into 8 subspaces and encoded as its nearest of 16 "
        "deterministic centroids per subspace (argmin via array_min "
        "over (dist, k) structs — pure codegen, map-only, no shuffle): "
        "64 floats become 8 codes, a 32× compression, which is what "
        "lets a 100 TB corpus fit a memory-resident index. One Arrow "
        "pass per batch encodes (numpy squared-distance argmin per "
        "subspace) and scores asymmetric distance via the classic "
        "per-query LUT gather, emitting only per-batch top-k; the "
        "corpus never shuffles. All-integer arithmetic end-to-end, so "
        "even the ENCODE step is hash-checked against the DuckDB "
        "oracle's unrolled argmin. [ext — absent from the reference, "
        "dmi_ingestor/ingestor.py has no vector ops]"
    ),
    tags=("similarity", "embeddings", "scale"),
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 10 (guide §4.2): encode + ADC in ONE Arrow pass. The old
    # plan evaluated ~PQ_M×PQ_K×PQ_SUB interpreted HOF steps PER ROW to
    # encode, then a broadcast join + 8 more HOF aggregates per pair
    # for ADC, then an 8N-row window. Now: per batch, one numpy
    # squared-distance block per subspace encodes all rows (argmin's
    # first-min == the old array_min (d, k) tiebreak), ADC is the
    # classic per-query LUT gather (lut[q, m, code]), and only each
    # batch's top-k leave. Everything is exact small-integer arithmetic
    # in float64 (every distance < 2^27 ≪ 2^53), so values equal the
    # old LONG chains bit for bit.
    import numpy as np
    import pandas as pd

    dim = _embedding_dim(sf_dir)
    assert dim in (PQ_DIM, -1), "codebook is built for dim 64"
    cb = np.asarray(_pq_codebook(), dtype=np.float64)  # (M, K, SUB)
    qids, Q, _ = _query_side(sf_dir, N_QUERY)
    if len(qids):
        qsub = Q.reshape(len(qids), PQ_M, PQ_SUB)
        diff = qsub[:, :, None, :] - cb[None, :, :, :]
        lut = np.einsum("qmks,qmks->qmk", diff, diff)  # (nq, M, K)

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _int_vec(F.col("embedding")).alias("iv")
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["iv"].to_numpy()).astype(np.float64)
            vs = v.reshape(len(ids), PQ_M, PQ_SUB)
            adc = np.zeros((len(qids), len(ids)), dtype=np.float64)
            for m in range(PQ_M):
                d = vs[:, m, None, :] - cb[m][None, :, :]  # (nb, K, SUB)
                dist = np.einsum("nks,nks->nk", d, d)
                code = np.argmin(dist, axis=1)  # first min = lowest k
                adc += lut[:, m, :][:, code]  # (nq, nb) gather
            r, c = gram.topk(adc, ids, TOP_K, desc=False, mask=gram.not_self(qids, ids))
            yield pd.DataFrame(
                {
                    "query_id": qids[r],
                    "neighbor_id": ids[c],
                    "adc_dist": adc[r, c].astype(np.int64),
                }
            )

    part = emb.mapInPandas(
        _score, "query_id long, neighbor_id long, adc_dist long"
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rk")
    )


# --------------------------------------------------------------------------
# U6 scale path #2: IVF (inverted-file) ANN — coarse quantizer + probing.
# --------------------------------------------------------------------------

N_CELLS = 16
N_PROBE = 4


@register(
    "sim_ann_ivf",
    oracle=f"""
    WITH vq AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cell_id, qv AS cv FROM vq WHERE vec_id < {N_CELLS}),
    asgn AS (
      SELECT e.vec_id, s.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {sql_cosine("e.qv", "s.cv")} DESC, s.cell_id
             ) AS cell_rk
      FROM vq e CROSS JOIN seeds s
    ),
    lists AS (
      SELECT a.cell_id, a.vec_id AS neighbor_id, v.qv AS nv
      FROM asgn a JOIN vq v USING (vec_id) WHERE a.cell_rk = 1
    ),
    probes AS (
      SELECT a.vec_id AS query_id, v.qv AS qqv, a.cell_id
      FROM asgn a JOIN vq v USING (vec_id)
      WHERE a.vec_id < {N_QUERY} AND a.cell_rk <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, l.neighbor_id,
             {sql_cosine("p.qqv", "l.nv")} AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY p.query_id
               ORDER BY {sql_cosine("p.qqv", "l.nv")} DESC, l.neighbor_id
             ) AS rk
      FROM lists l JOIN probes p USING (cell_id)
    )
    SELECT query_id, neighbor_id, sim, rk FROM scored WHERE rk <= {TOP_K}
    """,
    doc=(
        "U6 scale path: IVF-style ANN. Coarse centroids = a fixed, "
        "deterministic sample of the corpus (vec_id < 16); every vector "
        "joins its nearest cell (inverted lists), queries probe their 4 "
        "nearest cells and brute-force only those lists. At 100 TB: "
        "corpus partitioned/bucketed BY cell_id, probe = partition "
        "pruning — the O(n²) scan becomes O(n/N_CELLS × N_PROBE) per "
        "query. Top-1 self-match invariant tested. Quantized "
        "round(x*1000) vectors make cell assignment, probe order and "
        "re-rank all integer-deterministic, so the full index is "
        "hash-checked against a 5-level CTE oracle (upgraded from "
        "rows-only in round 2)."
    ),
    tags=("similarity", "embeddings", "approx"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seeds (vec_id < 16) and queries (vec_id < 8) are both
    # bounded-by-construction plan-time reads, so probe lists (4
    # cells/query) are decided in numpy BEFORE the scan and the whole
    # index — cell assignment (argmax cosine vs 16 seeds), probe
    # matching, candidate scoring, per-batch top-5 — runs as ONE Arrow
    # pass over the corpus. Replaces a window over 16N rows for cell
    # assignment, the probe window, the lists⋈probes join, and per-pair
    # HOF cosines. Argmax tie → lowest cell_id == the oracle's
    # row_number(cell_sim DESC, cell_id) (np.argmax returns the first
    # maximal index, and the seeds are sorted by id).
    import numpy as np
    import pandas as pd

    sids, S, _ = _query_side(sf_dir, N_CELLS)
    qids, Q, _ = _query_side(sf_dir, N_QUERY)
    s_order = np.argsort(sids)
    sids, S = sids[s_order], S[s_order]
    sn, qn = gram.norms(S), gram.norms(Q)

    # probe[qi, s]: seed s is one of query qi's N_PROBE cells by
    # (sim DESC, cell_id)
    probe = np.zeros((len(qids), len(sids)), dtype=bool)
    r, c = gram.topk(gram.cosine(Q, S, qn, sn), sids, N_PROBE)
    probe[r, c] = True

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("v")
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or not probe.any():
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["v"].to_numpy())
            vn = gram.norms(v)
            cell = np.argmax(gram.cosine(v, S, vn, sn), axis=1)
            qcos = gram.cosine(Q, v, qn, vn)
            # self-match included, like the oracle's lists ⋈ probes
            r, c = gram.topk(qcos, ids, TOP_K, mask=probe[:, cell])
            yield pd.DataFrame(
                {"query_id": qids[r], "neighbor_id": ids[c], "sim": qcos[r, c]}
            )

    part = emb.mapInPandas(_score, "query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


@register(
    "vector_int8_quantize",
    oracle="""
    WITH mm AS (
      SELECT vec_id,
             CAST(list_min(embedding) AS DOUBLE) AS mn,
             CAST(list_max(embedding) AS DOUBLE) AS mx,
             embedding
      FROM embeddings
    ), codes AS (
      SELECT vec_id, mn, mx,
             CASE WHEN mx = mn
                  THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding, x ->
                    LEAST(CAST(FLOOR((CAST(x AS DOUBLE) - mn) * 255 / (mx - mn))
                          AS BIGINT), 255))
             END AS q
      FROM mm
    )
    SELECT
      vec_id,
      CAST(len(q) AS INTEGER) AS n_dims,
      CAST(list_sum(q) AS BIGINT) AS sum_codes,
      CAST(q[1] AS BIGINT) AS c0,
      CAST(q[2] AS BIGINT) AS c1,
      CAST(q[3] AS BIGINT) AS c2,
      CAST(q[4] AS BIGINT) AS c3
    FROM codes
    """,
    doc=(
        "U6/U8: per-vector int8 quantization — the embedding-storage "
        "compression every large corpus applies before ANN (4× smaller "
        "than float32, 16x than float64). Min-max affine scaling to "
        "[0,255] with FLOOR, entirely in higher-order Catalyst "
        "expressions (transform/aggregate) — map-only, zero shuffle, "
        "no Python in the row path. The identical IEEE expression on "
        "both engines makes even the rounding hash-exact; degenerate "
        "constant vectors quantize to all-zeros rather than NaN."
    ),
    tags=("similarity", "vector", "quantize", "embeddings"),
)
def vector_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    mm = e.select(
        "vec_id",
        "embedding",
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
    )
    code = lambda x: F.least(  # noqa: E731
        F.floor((x.cast("double") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn")))
        .cast("long"),
        F.lit(255).cast("long"),
    )
    q = mm.withColumn(
        "q",
        F.when(
            F.col("mx") == F.col("mn"),
            F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long")),
        ).otherwise(F.transform(F.col("embedding"), code)),
    )
    return q.select(
        "vec_id",
        F.size("q").cast("int").alias("n_dims"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_codes"),
        F.element_at("q", 1).alias("c0"),
        F.element_at("q", 2).alias("c1"),
        F.element_at("q", 3).alias("c2"),
        F.element_at("q", 4).alias("c3"),
    )


# --------------------------------------------------------------------------
# Contrastive-training triplet generation (anchor, positive, negatives).
# --------------------------------------------------------------------------

NEG_K = 4  # negatives per anchor


@register(
    "ml_negative_sampling",
    oracle=f"""
    WITH vq AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    anchors AS (SELECT * FROM vq WHERE vec_id < {N_QUERY}),
    pos AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS pos_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {sql_cosine("a.qv", "b.qv")} DESC, b.vec_id
             ) AS rk
      FROM anchors a
      JOIN vq b ON b.label = a.label AND b.vec_id <> a.vec_id
      QUALIFY rk = 1
    ),
    neg AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY md5(CONCAT(CAST(a.vec_id AS VARCHAR), '-',
                                   CAST(b.vec_id AS VARCHAR))), b.vec_id
             ) AS neg_rank
      FROM anchors a
      JOIN vq b ON b.label <> a.label
      QUALIFY neg_rank <= {NEG_K}
    )
    SELECT n.anchor_id, p.pos_id, n.neg_id,
           CAST(n.neg_rank AS INTEGER) AS neg_rank
    FROM neg n JOIN pos p ON p.anchor_id = n.anchor_id
    """,
    doc=(
        "Contrastive-training data prep: (anchor, positive, k hashed "
        "negatives) triplets. Positive = nearest same-label neighbor "
        "by exact quantized cosine; negatives = 4 different-label rows "
        "chosen by md5(anchor-candidate) order — deterministic hashed "
        "sampling, so the 'random' negatives are reproducible, "
        "retry-safe, and hash-checked cross-engine (the same property "
        "sample_bernoulli_hash relies on). Plan: ONE Arrow pass over "
        "the corpus emits per-batch best-positive and 4-smallest-hash "
        "negative candidates per anchor (the anchor set is bounded, "
        "read at plan time) — the corpus never shuffles; the ranking "
        "windows see ≤ 5 rows/anchor/batch. At 100 TB you'd first "
        "hash-prefilter candidates (md5 < threshold) so the rank "
        "window is bounded — same two-stage shape as "
        "sample_cap_per_domain."
    ),
    tags=("similarity", "embeddings", "ml", "sampling"),
)
def ml_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus pass emits both candidate kinds — per-batch top-1
    # same-label neighbor by exact cosine (kind 0) and per-batch 4
    # smallest (md5, id) different-label rows (kind 1) — replacing TWO
    # broadcast-join corpus scans and two 8N-row window shuffles with
    # one Arrow pass + windows over ≤ 5 rows/anchor/batch.
    # hashlib.md5 over f"{anchor}-{cand}" equals Spark's
    # md5(concat_ws('-', ...)) (lowercase hex, long→string digits), and
    # hex-string ordering is byte-lexicographic in both engines. The
    # old joins' NULL semantics are reproduced: label == a_label and
    # label <> a_label are both NULL-rejecting.
    import hashlib

    import numpy as np
    import pandas as pd

    qids, Q, qlabels = _query_side(sf_dir, N_QUERY, with_label=True)
    keep = np.array([lab is not None for lab in qlabels], dtype=bool)
    aids, A = qids[keep], Q[keep]
    alabs = np.array([lab for lab in qlabels if lab is not None])
    an = gram.norms(A)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qv")
    )

    def _cand(batches):
        for pdf in batches:
            if len(pdf) == 0 or not len(aids):
                continue
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            lab_ok = pdf["label"].notna().to_numpy()[None, :]
            same = labels[None, :] == alabs[:, None]
            v = np.stack(pdf["qv"].to_numpy())
            # positives: same label, not self — batch top-1
            cos = gram.cosine(A, v, an, gram.norms(v))
            pr, pc = gram.topk(cos, ids, 1, mask=lab_ok & same & gram.not_self(aids, ids))
            # negatives: different label — batch 4 smallest (h, id)
            nmask = lab_ok & ~same
            hs = np.full(nmask.shape, "", dtype="<U32")
            ha, hc = np.nonzero(nmask)
            hs[ha, hc] = [
                hashlib.md5(f"{aids[a]}-{ids[c]}".encode()).hexdigest()
                for a, c in zip(ha, hc)
            ]
            nr, nc = gram.topk(hs, ids, NEG_K, desc=False, mask=nmask)
            yield pd.DataFrame(
                {
                    "kind": np.repeat([0, 1], [len(pr), len(nr)]),
                    "anchor_id": aids[np.concatenate([pr, nr])],
                    "cand_id": ids[np.concatenate([pc, nc])],
                    "sim": np.concatenate([cos[pr, pc], np.zeros(len(nr))]),
                    "h": np.concatenate([np.full(len(pr), "", "<U32"), hs[nr, nc]]),
                }
            )

    # cached: both branches below read it — without the (tiny,
    # ≤ 5 rows/anchor/batch) cache the corpus pass would run twice
    part = emb.mapInPandas(
        _cand, "kind int, anchor_id long, cand_id long, sim double, h string"
    ).cache()
    wpos = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    pos = (
        part.filter(F.col("kind") == 0)
        .withColumn("rk", F.row_number().over(wpos))
        .filter(F.col("rk") == 1)
        .select("anchor_id", F.col("cand_id").alias("pos_id"))
    )
    wneg = Window.partitionBy("anchor_id").orderBy("h", "cand_id")
    neg = (
        part.filter(F.col("kind") == 1)
        .withColumn("neg_rank", F.row_number().over(wneg))
        .filter(F.col("neg_rank") <= NEG_K)
        .select(
            "anchor_id",
            F.col("cand_id").alias("neg_id"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )
    return neg.join(pos, ["anchor_id"]).select(
        "anchor_id", "pos_id", "neg_id", "neg_rank"
    )


# --------------------------------------------------------------------------
# Embedding-table QA: per-dimension distribution profile
# --------------------------------------------------------------------------


@register(
    "vector_dim_stats",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS v_micro
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v_micro) AS BIGINT) AS min_micro,
           CAST(MAX(v_micro) AS BIGINT) AS max_micro,
           CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
           CAST(SUM(v_micro * v_micro) AS BIGINT) AS sumsq_micro,
           CAST(COUNT(CASE WHEN v_micro = 0 THEN 1 END) AS BIGINT) AS n_zero
    FROM e GROUP BY dim ORDER BY dim
    """,
    doc=(
        "Embedding-table QA: per-DIMENSION distribution profile "
        "(count, min/max, first two power sums, dead-dimension zero "
        "count) — the health check before building an ANN index: a "
        "collapsed or unnormalized dimension silently wrecks cosine "
        "recall. Values quantize to integer micro-units at the row "
        "(float32 widens exactly to double first), so every aggregate "
        "is exact integer arithmetic. posexplode -> 8-key aggregate; "
        "at 100 TB this is one partial+final pass with a "
        "dimensionality-sized result."
    ),
    tags=("similarity", "profiling", "embeddings", "ml"),
)
def vector_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    )
    v = F.round(F.col("x").cast("double") * 1000000).cast("long")
    d = e.select(F.col("dim").cast("long").alias("dim"), v.alias("v_micro"))
    return (
        d.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("v_micro").cast("long").alias("min_micro"),
            F.max("v_micro").cast("long").alias("max_micro"),
            F.sum("v_micro").cast("long").alias("sum_micro"),
            F.sum(F.col("v_micro") * F.col("v_micro"))
            .cast("long")
            .alias("sumsq_micro"),
            F.count(F.when(F.col("v_micro") == 0, 1))
            .cast("long")
            .alias("n_zero"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# kNN classification eval (leave-one-out over an eval fold)
# ---------------------------------------------------------------------------

_KNN_EVAL = 50  # vec_id < 50 form the evaluation fold
_KNN_K = 3
_KNN_ACC_S = 10**6


@register(
    "ml_knn_classifier_eval",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
               AS qv
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.label AS nb_label,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {sql_cosine("a.qv", "b.qv")} DESC, b.vec_id
             ) AS rk
      FROM v a JOIN v b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_KNN_EVAL}
    ),
    votes AS (
      SELECT query_id, true_label, nb_label, COUNT(*) AS c
      FROM scored WHERE rk <= {_KNN_K}
      GROUP BY query_id, true_label, nb_label
    ),
    pred AS (
      SELECT query_id, true_label, nb_label AS pred_label,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY c DESC, nb_label
             ) AS vr
      FROM votes
    )
    SELECT true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 * {_KNN_ACC_S}) // COUNT(*) AS BIGINT) AS accuracy_scaled
    FROM pred WHERE vr = 1
    GROUP BY true_label
    ORDER BY label
    """,
    doc=(
        "k-NN classifier evaluation — the label-quality audit every "
        "weakly-labeled corpus runs (does embedding neighborhood "
        "structure predict the label?): leave-one-out 3-NN by exact "
        "cosine over a 50-vector eval fold, majority vote with a "
        "deterministic (count, label) tiebreak, per-class accuracy "
        "as scaled integers. Same quantized-vector bit-exactness and "
        "one-pass Arrow-kernel plan as sim_topk_bruteforce: the corpus "
        "side never shuffles, the bounded fold rides into the kernel "
        "at plan time, and the vote/argmax is two windows over "
        "fold-sized rows."
    ),
    tags=("similarity", "mllib", "embeddings"),
)
def ml_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same one-pass Arrow kernel as sim_topk_bruteforce, with the
    # 50-row eval fold (bounded by construction) as the plan-time query
    # matrix — replaces the broadcast-nested-loop's 50N interpreted HOF
    # cosines and the 50N-row window shuffle with per-batch numpy grams
    # + a window over ≤ 150 rows/batch. NULL labels stay NULL through
    # the kernel; the vote and the accuracy below order and count them
    # like the oracle.
    import numpy as np
    import pandas as pd

    qids, Q, qlabels = _query_side(sf_dir, _KNN_EVAL, with_label=True)
    qn = gram.norms(Q)
    qlabels = pd.array(qlabels, dtype="Int64")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qv")
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["qv"].to_numpy())
            cos = gram.cosine(Q, v, qn, gram.norms(v))
            r, c = gram.topk(cos, ids, _KNN_K, mask=gram.not_self(qids, ids))
            yield pd.DataFrame(
                {
                    "query_id": qids[r],
                    "true_label": qlabels[r],
                    "nb_id": ids[c],
                    "nb_label": pdf["label"].to_numpy()[c],
                    "sim": cos[r, c],
                }
            )

    part = emb.mapInPandas(
        _score,
        "query_id long, true_label int, nb_id long, nb_label int, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("nb_id")
    )
    topk = (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_K)
    )
    votes = topk.groupBy("query_id", "true_label", "nb_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    # nb_label NULLS LAST and a NULL comparison counting 0: DuckDB's
    # default order and the oracle's CASE
    vw = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("nb_label").asc_nulls_last()
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("nb_label").alias("pred_label"))
    )
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(correct).cast("long").alias("n_correct"),
        )
        .select(
            "label",
            "n_eval",
            "n_correct",
            F.expr(f"(n_correct * {_KNN_ACC_S}) div n_eval")
            .cast("long")
            .alias("accuracy_scaled"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Range search: all pairs above a similarity threshold
# ---------------------------------------------------------------------------

_RANGE_TAU_NUM = 15  # tau = 0.15 as a ratio (x100)


@register(
    "sim_range_search_threshold",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
               AS qv
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {sql_cosine("a.qv", "b.qv")} AS sim
      FROM v a JOIN v b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERY}
    )
    SELECT query_id, neighbor_id, sim
    FROM scored WHERE sim >= {_RANGE_TAU_NUM} / 100.0
    ORDER BY query_id, neighbor_id
    """,
    doc=(
        "RANGE search — the other ANN query type beside top-k: every "
        "neighbor whose cosine clears a fixed threshold, however many "
        "or few that is (dedup wants thresholds; recsys wants top-k). "
        "Same quantized-vector bit-exactness and one-pass Arrow-kernel "
        "plan as sim_topk_bruteforce, but the selection is a pure "
        "filter applied inside the kernel — no window, no rank state, "
        "fully map-shaped; at scale the LSH-bucketed variants "
        "(sim_ann_lsh_buckets) provide the candidate set and this "
        "threshold verify runs on candidates only."
    ),
    tags=("similarity", "embeddings"),
)
def sim_range_search_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One Arrow pass, per-batch numpy gram vs the bounded plan-time
    # query matrix; the threshold is applied inside the kernel so only
    # qualifying pairs leave the batch — replaces the
    # broadcast-nested-loop's 8N interpreted HOF cosines. Pure filter
    # semantics: no window at all. The 0.15 literal is the identical
    # double on both engines.
    import numpy as np
    import pandas as pd

    qids, Q, _ = _query_side(sf_dir, N_QUERY)
    qn = gram.norms(Q)
    tau = _RANGE_TAU_NUM / 100.0
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["qv"].to_numpy())
            cos = gram.cosine(Q, v, qn, gram.norms(v))
            r, c = np.nonzero((cos >= tau) & gram.not_self(qids, ids))
            yield pd.DataFrame(
                {"query_id": qids[r], "neighbor_id": ids[c], "sim": cos[r, c]}
            )

    return (
        emb.mapInPandas(_score, "query_id long, neighbor_id long, sim double")
        .orderBy("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization audit (exact integer reconstruction error)
# ---------------------------------------------------------------------------


@register(
    "vector_quantize_error_audit",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    stats AS (
      SELECT dim, MIN(v) AS mn, MAX(v) AS mx, MAX(v) - MIN(v) AS rng
      FROM e GROUP BY dim
    ),
    coded AS (
      SELECT e.dim, e.v, s.mn, s.rng,
             CASE WHEN s.rng = 0 THEN 0
                  ELSE ((e.v - s.mn) * 255 * 2 + s.rng) // (2 * s.rng)
             END AS code
      FROM e JOIN stats s ON e.dim = s.dim
    ),
    errs AS (
      SELECT dim, code,
             CASE WHEN rng = 0 THEN 0
                  ELSE (v - mn) * 255 - code * rng END AS err_num,
             rng
      FROM coded
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(code) AS BIGINT) AS code_min,
           CAST(MAX(code) AS BIGINT) AS code_max,
           CAST(SUM(ABS(err_num)) AS BIGINT) AS sum_abs_err_num,
           CAST(MAX(ABS(err_num)) AS BIGINT) AS max_abs_err_num,
           CAST(MAX(rng) AS BIGINT) AS range_micro
    FROM errs
    GROUP BY dim
    ORDER BY dim
    """,
    doc=(
        "int8 scalar quantization audit — the embedding-compression "
        "step a 100 TB vector store runs before indexing (4x smaller, "
        "SIMD-friendly): per-dimension min/max from one corpus "
        "aggregate, codes = round(255*(v-min)/range) computed in EXACT "
        "integer arithmetic ((v-mn)*510+rng) // (2*rng) — integer "
        "half-up rounding, no float division anywhere — and the "
        "reconstruction error audited in exact units of micro/255: "
        "err_num = (v-mn)*255 - code*rng. Everything is BIGINT, so "
        "code assignment and error profile are hash-exact. Scale: two "
        "passes over the exploded (vec, dim) relation, both "
        "partial-aggregatable; the stats side is d rows broadcast into "
        "the coding scan. Rows with a degenerate dimension (range 0) "
        "code to 0 with zero error."
    ),
    tags=("similarity", "embeddings", "quantization", "scale"),
)
def vector_quantize_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xv")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("xv").cast("double") * 1000000).cast("long").alias("v"),
    )
    stats = e.groupBy("dim").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        (F.max("v") - F.min("v")).alias("rng"),
    )
    coded = e.join(F.broadcast(stats), "dim").select(
        "dim",
        "rng",
        F.when(F.col("rng") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                ((F.col("v") - F.col("mn")) * 255 * 2 + F.col("rng"))
                / (2 * F.col("rng"))
            )
        )
        .alias("code"),
        (F.col("v") - F.col("mn")).alias("off"),
    )
    errs = coded.select(
        "dim",
        "code",
        "rng",
        F.when(F.col("rng") == 0, F.lit(0).cast("long"))
        .otherwise(F.col("off") * 255 - F.col("code") * F.col("rng"))
        .alias("err_num"),
    )
    return (
        errs.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("code").cast("long").alias("code_min"),
            F.max("code").cast("long").alias("code_max"),
            F.sum(F.abs("err_num")).cast("long").alias("sum_abs_err_num"),
            F.max(F.abs("err_num")).cast("long").alias("max_abs_err_num"),
            F.max("rng").cast("long").alias("range_micro"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# Matryoshka prefix-dimension recall audit
# --------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)
_MRL_K = 10


@register(
    "sim_matryoshka_prefix_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, d.pd,
             list_slice(a.qv, 1, d.pd) AS va,
             list_slice(b.qv, 1, d.pd) AS vb
      FROM q a
      JOIN q b ON b.vec_id <> a.vec_id
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _MRL_DIMS))}]) AS pd) d
      WHERE a.vec_id < {N_QUERY}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, pd,
             ROW_NUMBER() OVER (
               PARTITION BY query_id, pd
               ORDER BY {sql_cosine("va", "vb")} DESC, neighbor_id
             ) AS rk
      FROM pairs
    ),
    top AS (
      SELECT query_id, pd, neighbor_id FROM ranked WHERE rk <= {_MRL_K}
    ),
    full_d AS (
      SELECT query_id, neighbor_id FROM top WHERE pd = {_MRL_DIMS[-1]}
    )
    SELECT t.query_id,
           CAST(t.pd AS BIGINT) AS prefix_dims,
           CAST(COUNT(f.neighbor_id) AS BIGINT) AS n_overlap,
           CAST((1000 * COUNT(f.neighbor_id)) // {_MRL_K} AS BIGINT)
             AS recall_permille
    FROM top t
    LEFT JOIN full_d f
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY t.query_id, t.pd
    ORDER BY t.query_id, prefix_dims
    """,
    doc=(
        "Matryoshka (MRL) prefix-dimension recall audit — the "
        "measurement that decides whether truncated embeddings are "
        "good enough to serve: for each query, top-10 by cosine over "
        "the first 8/16/32/64 dimensions, scored by overlap with the "
        "full-dimension top-10 (recall@10 in integer permille). This "
        "is how retrieval stacks budget their ANN memory: a prefix "
        "that keeps recall ~1000 serves from a 4x smaller index. "
        "Quantized integer vectors + identical IEEE cosine trees on "
        "both engines keep the whole ranking hash-exact; all four "
        "prefix grams run in the same Arrow kernel batch, and the "
        "corpus never shuffles — same 100 TB contract as "
        "sim_topk_bruteforce, x|prefix grid| in one pass."
    ),
    tags=("similarity", "embeddings", "eval"),
)
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One Arrow pass computes all four prefix grams per batch (numpy
    # matmuls over V[:, :pd]; prefix slices of exact integers stay
    # exact) and emits only per-(query, prefix) batch top-10 — replaces
    # the ×4 explode of the broadcast-nested-loop join (32N rows of
    # sliced HOF cosines) and its 32N-row window.
    import numpy as np
    import pandas as pd

    qids, Q, _ = _query_side(sf_dir, N_QUERY)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["qv"].to_numpy())
            mask = gram.not_self(qids, ids)
            cols = {"query_id": [], "pd": [], "neighbor_id": [], "sim": []}
            for d in _MRL_DIMS:
                qp, vp = Q[:, :d], v[:, :d]
                cos = gram.cosine(qp, vp, gram.norms(qp), gram.norms(vp))
                r, c = gram.topk(cos, ids, _MRL_K, mask=mask)
                cols["query_id"].append(qids[r])
                cols["pd"].append(np.full(len(r), d))
                cols["neighbor_id"].append(ids[c])
                cols["sim"].append(cos[r, c])
            yield pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})

    part = emb.mapInPandas(
        _score, "query_id long, pd int, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id", "pd").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    top = (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MRL_K)
        .select("query_id", "pd", "neighbor_id")
        .cache()
    )
    full_d = top.filter(F.col("pd") == _MRL_DIMS[-1]).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        top.join(F.broadcast(full_d), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id", F.col("pd").cast("long").alias("prefix_dims"))
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "prefix_dims",
            "n_overlap",
            F.expr(f"(1000 * n_overlap) div {_MRL_K}").alias("recall_permille"),
        )
        .orderBy("query_id", "prefix_dims")
    )


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT-style) MaxSim retrieval
# ---------------------------------------------------------------------------

_MAXSIM_NQ = 4        # vec_id < 4 are the "queries"
_MAXSIM_CHUNK = 16    # 64-dim embedding -> 4 x 16-dim "token" vectors
_MAXSIM_K = 3


@register(
    "sim_maxsim_late_interaction",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    toks AS (
      SELECT vec_id, label, t,
             list_slice(qv, t * {_MAXSIM_CHUNK} + 1, (t + 1) * {_MAXSIM_CHUNK}) AS tv
      FROM q, (SELECT unnest(generate_series(0, 3)) AS t)
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id, a.t AS qt,
             MAX({sql_cosine("a.tv", "b.tv")}) AS ms
      FROM toks a
      JOIN toks b ON b.label = a.label AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_MAXSIM_NQ}
      GROUP BY query_id, cand_id, qt
    ),
    scored AS (
      SELECT query_id, cand_id,
             ROUND(MAX(CASE WHEN qt = 0 THEN ms END)
                 + MAX(CASE WHEN qt = 1 THEN ms END)
                 + MAX(CASE WHEN qt = 2 THEN ms END)
                 + MAX(CASE WHEN qt = 3 THEN ms END), 9) AS maxsim
      FROM pairs GROUP BY query_id, cand_id
    ),
    ranked AS (
      SELECT query_id, cand_id, maxsim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY maxsim DESC, cand_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, cand_id, maxsim, rk
    FROM ranked WHERE rk <= {_MAXSIM_K}
    ORDER BY query_id, rk
    """,
    doc=(
        "Late-interaction retrieval (ColBERT's MaxSim, Khattab & "
        "Zaharia SIGIR 2020): each embedding is treated as 4 "
        "16-dim 'token' vectors (contiguous chunks), and "
        "score(q, d) = sum over query tokens of max over doc tokens "
        "of cos — the operator family behind multi-vector retrieval "
        "plugins. Candidates are LABEL-BLOCKED (the IVF-list analogue), "
        "never all-pairs; the token-pair max and the per-pair sum are "
        "keyed aggregates. The 4 MaxSim terms are summed in FIXED "
        "qt order via conditional aggregation (never a float SUM whose "
        "partial order varies), every cos is a quotient of exact "
        "integer dot products (quantized chunks, sums < 2^53), and the "
        "final round(. , 9) grid is ~1e7 ulps wide — hash-exact. "
        "At 100 TB the same plan holds: blocking bounds candidates, "
        "the label block is one hash shuffle, and a block of m vectors "
        "costs O(m·dim) group input plus a (4·4) × (4·m) token-cosine "
        "gram (operators/gram.py)."
    ),
    tags=("similarity", "embeddings", "multivector"),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One numpy MaxSim kernel per LABEL block — the blocking key already
    # bounds candidates, so the token explode (×4 rows), the broadcast
    # token join, and BOTH keyed aggregates collapse into a single
    # applyInPandas over (label) groups. Every query-token ×
    # candidate-token cosine is one 2-D gram over the block's reshaped
    # tokens: (4·nq) × (4·m) with nq ≤ _MAXSIM_NQ, so O(m) per block on
    # top of the O(m·dim) group input. The per-(query, cand, qt) max and
    # the FIXED qt-order 4-term sum are reproduced exactly (left-assoc
    # adds); the final round(.,9) stays a SPARK expression on the raw
    # sum. NULL labels are filtered exactly as the oracle's equi-join
    # drops them.
    import numpy as np
    import pandas as pd

    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select("vec_id", "label", quantize(F.col("embedding")).alias("qv"))
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        tok = np.stack(pdf["qv"].to_numpy()[order]).reshape(-1, _MAXSIM_CHUNK)
        tn = gram.norms(tok)
        q = np.flatnonzero(ids < _MAXSIM_NQ)
        qtok = (q[:, None] * 4 + np.arange(4)).ravel()  # the queries' token rows
        cos = gram.cosine(tok[qtok], tok, tn[qtok], tn)
        ms = cos.reshape(len(q), 4, len(ids), 4).max(axis=3)  # max over cand tokens
        tot = ((ms[:, 0] + ms[:, 1]) + ms[:, 2]) + ms[:, 3]
        r, c = np.nonzero(gram.not_self(ids[q], ids))
        return pd.DataFrame(
            {"query_id": ids[q][r], "cand_id": ids[c], "maxsim_raw": tot[r, c]}
        )

    scored = emb.groupBy("label").applyInPandas(
        _block, "query_id long, cand_id long, maxsim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("maxsim", F.round(F.col("maxsim_raw"), 9))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MAXSIM_K)
        .select("query_id", "cand_id", "maxsim", "rk")
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# MIPS via the norm-augmentation reduction (Bachrach et al., RecSys 2014)
# ---------------------------------------------------------------------------

_MIPS_NQ = 4


@register(
    "vector_mips_norm_augment",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS nsq
      FROM v
    ),
    m AS (SELECT MAX(nsq) AS m2 FROM n WHERE vec_id >= {_MIPS_NQ}),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS ip,
             ROUND(list_dot_product(a.qv, b.qv)
                   / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(m.m2 AS DOUBLE))),
                   9) AS cos_aug
      FROM n a JOIN n b ON b.vec_id >= {_MIPS_NQ} AND b.vec_id <> a.vec_id
      CROSS JOIN m
      WHERE a.vec_id < {_MIPS_NQ}
    ),
    ranked AS (
      SELECT query_id, cand_id, ip, cos_aug,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY ip DESC, cand_id
             ) AS rk_ip,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_aug DESC, cand_id
             ) AS rk_aug
      FROM scored
    )
    SELECT query_id, cand_id, ip, cos_aug, rk_aug
    FROM ranked WHERE rk_ip = 1
    ORDER BY query_id
    """,
    doc=(
        "Maximum-inner-product search reduced to cosine search by norm "
        "augmentation (Bachrach et al., RecSys 2014; the trick behind "
        "serving dot-product recommender scores on cosine-ANN "
        "infrastructure): append sqrt(M^2 - ||d||^2) to every corpus "
        "vector and 0 to the query — then cos(q', d') = "
        "dot(q, d) / (||q|| * M), MONOTONE in the inner product for a "
        "fixed query, so any cosine index answers MIPS unchanged. The "
        "returned row per query is the exact MIPS argmax carrying both "
        "the integer inner product and the augmented cosine, with "
        "rk_aug = 1 proving the reduction preserved the argmax. The "
        "closed form keeps every hashed number exact: integer dots "
        "(quantized, < 2^53), one correctly-rounded sqrt each, a "
        "single division, round(. , 9). Scale: M^2 is a 1-row "
        "broadcast aggregate; scoring is the same broadcast-query "
        "brute-force pass as sim_topk_bruteforce, or any LSH/IVF "
        "bucketed variant since the reduction is index-agnostic."
    ),
    tags=("similarity", "embeddings", "mips"),
)
def vector_mips_norm_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.vector import dot, norm_sq

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    n = emb.withColumn("nsq", norm_sq(F.col("qv")).cast("long"))
    cands = n.filter(F.col("vec_id") >= _MIPS_NQ).select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("cv")
    )
    m2 = cands.agg(
        F.max(norm_sq(F.col("cv")).cast("long")).alias("m2")
    )
    queries = n.filter(F.col("vec_id") < _MIPS_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qqv"),
        F.col("nsq").alias("qnsq"),
    )
    # round 10: the dot product is evaluated ONCE (HOF lambdas are not
    # CSE'd, so the old twin dot(...) calls each walked the arrays);
    # cos_aug derives from the long ip — exact, since the dot is an
    # exact < 2^53 integer and long→double widens it losslessly
    scored = (
        cands.join(F.broadcast(queries), F.col("cand_id") != F.col("query_id"))
        .crossJoin(F.broadcast(m2))
        .select(
            "query_id",
            "cand_id",
            dot(F.col("qqv"), F.col("cv")).cast("long").alias("ip"),
            "qnsq",
            "m2",
        )
        .select(
            "query_id",
            "cand_id",
            "ip",
            F.round(
                F.col("ip").cast("double")
                / (
                    F.sqrt(F.col("qnsq").cast("double"))
                    * F.sqrt(F.col("m2").cast("double"))
                ),
                9,
            ).alias("cos_aug"),
        )
    )
    w_ip = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("cand_id")
    )
    w_aug = Window.partitionBy("query_id").orderBy(
        F.col("cos_aug").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rk_ip", F.row_number().over(w_ip))
        .withColumn("rk_aug", F.row_number().over(w_aug))
        .filter(F.col("rk_ip") == 1)
        .select("query_id", "cand_id", "ip", "cos_aug", "rk_aug")
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Binary sign-sketch Hamming top-k (the 8-byte/vector rerank primitive)
# ---------------------------------------------------------------------------

_HAM_NQ = 8
_HAM_K = 5


def _sql_signword(v: str, lo: int) -> str:
    """DuckDB: pack sign bits of elements [lo, lo+32) into a BIGINT."""
    return (
        f"(SELECT COALESCE(SUM(CASE WHEN e.x > 0 "
        f"AND e.i > {lo} AND e.i <= {lo + 32} "
        f"THEN CAST(1 AS BIGINT) << (e.i - {lo} - 1) ELSE 0 END), 0) "
        f"FROM (SELECT unnest({v}) AS x, "
        f"generate_subscripts({v}, 1) AS i) e)"
    )


@register(
    "vector_hamming_topk",
    oracle=f"""
    WITH w AS (
      SELECT vec_id,
             {_sql_signword("embedding", 0)} AS w0,
             {_sql_signword("embedding", 32)} AS w1
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
                  AS BIGINT) AS hamming
      FROM w a JOIN w b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_HAM_NQ}
    ),
    ranked AS (
      SELECT query_id, cand_id, hamming,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY hamming, cand_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, cand_id, hamming, rk
    FROM ranked WHERE rk <= {_HAM_K}
    ORDER BY query_id, rk
    """,
    doc=(
        "Binary sign-sketch similarity: each 64-dim embedding collapses "
        "to TWO 32-bit sign words (8 bytes total, a 32x shrink), and "
        "neighbor search is Hamming distance = popcount(xor) — the "
        "classic compact-code primitive (Charikar STOC 2002 sign "
        "hashes; the rerank stage of every binary-quantized vector "
        "index). The packing is a zero-shuffle numpy sign-pack per "
        "Arrow batch; scoring is XOR + byte-LUT popcount on two 64-bit "
        "words per pair with per-batch top-k — integers end to end, "
        "hash-exact with no float anywhere. At 100 TB the sketch table "
        "is ~1% of the float corpus; brute-force Hamming over it is a "
        "bandwidth-bound linear scan (SIMD popcount), the standard "
        "first-stage filter before exact rerank."
    ),
    tags=("similarity", "embeddings", "binary"),
)
def vector_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch + score + per-batch top-k in one Arrow pass — the old
    # plan's per-row transform/aggregate sign fold (64 interpreted
    # lambda steps/row), broadcast-nested-loop join, and 8N-row window
    # become one numpy sign-pack, an XOR + byte-LUT popcount, and a
    # window over ≤ 40 rows/batch. Pure integer/compare arithmetic —
    # trivially exact.
    import numpy as np
    import pandas as pd

    qids, R = _raw_query_side(sf_dir, _HAM_NQ)
    if len(qids):
        q0, q1 = _sign_words(R)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ham = _hamming(q0, q1, *_sign_words(v))
            r, c = gram.topk(ham, ids, _HAM_K, desc=False, mask=gram.not_self(qids, ids))
            yield pd.DataFrame(
                {"query_id": qids[r], "cand_id": ids[c], "hamming": ham[r, c]}
            )

    part = emb.mapInPandas(
        _score, "query_id long, cand_id long, hamming long"
    )
    wnd = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    return (
        part.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= _HAM_K)
        .select("query_id", "cand_id", "hamming", "rk")
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# e2e retrieval pipeline: binary-sketch prefilter -> exact cosine rerank
# ---------------------------------------------------------------------------

_RET_NQ = 4
_RET_SHORTLIST = 32
_RET_K = 5


@register(
    "pipeline_retrieval_e2e",
    oracle=f"""
    WITH w AS (
      SELECT vec_id,
             {_sql_signword("embedding", 0)} AS w0,
             {_sql_signword("embedding", 32)} AS w1,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))
               AS qv
      FROM embeddings
    ),
    pre AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             a.qv AS qqv, b.qv AS cv,
             CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
                  AS BIGINT) AS hamming,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY bit_count(xor(a.w0, b.w0))
                        + bit_count(xor(a.w1, b.w1)), b.vec_id
             ) AS prk
      FROM w a JOIN w b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_RET_NQ}
    ),
    shortlist AS (SELECT * FROM pre WHERE prk <= {_RET_SHORTLIST}),
    reranked AS (
      SELECT query_id, cand_id, hamming,
             ROUND({sql_cosine("qqv", "cv")}, 9) AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {sql_cosine("qqv", "cv")} DESC, cand_id
             ) AS rk
      FROM shortlist
    )
    SELECT query_id, cand_id, hamming, sim, rk
    FROM reranked WHERE rk <= {_RET_K}
    ORDER BY query_id, rk
    """,
    doc=(
        "End-to-end two-stage retrieval in ONE plan — the production "
        "vector-search architecture (binary-quantized first stage + "
        "exact second stage, the FAISS/ScaNN deployment shape): stage "
        "1 scans the 8-byte sign-sketch table and keeps a 32-candidate "
        "Hamming shortlist per query; stage 2 reranks ONLY the "
        "shortlist with exact quantized cosine and emits top-5. "
        "Composes vector_hamming_topk's numpy sign-pack with "
        "sim_topk_bruteforce's exact scoring in a single Arrow pass "
        "over the corpus (no corpus shuffle), "
        "and the expensive float math touches 32 rows per query "
        "instead of the corpus — the 100 TB story is the sketch scan "
        "is bandwidth-bound and the rerank is O(shortlist). "
        "Integer Hamming + exact-integer-dot cosine rounded at 9 dp: "
        "hash-exact end to end."
    ),
    tags=("similarity", "embeddings", "pipeline"),
)
def pipeline_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both retrieval stages run inside ONE Arrow pass per batch — numpy
    # sign-pack + XOR/LUT-popcount Hamming, a per-batch 32-candidate
    # shortlist per query, and the exact cosine of the shortlisted rows
    # (gathered from the nq × batch gram). The global shortlist window
    # then sees ≤ 32 rows/query/batch instead of all 4N sketch pairs,
    # and the rerank stays a Spark window + round(.,9) expression. The
    # corpus qv is quantized IN the kernel with the exact half-up
    # identity round(t) = sign(t)·floor(|t|+0.5) (|t|+0.5 is exactly
    # representable for |t| < 2^52, and ties x.5 are exact doubles), so
    # it equals F.round/`quantize` bit for bit; prk/rk windows keep
    # their original orderings over a provable superset of the true
    # shortlist.
    import numpy as np
    import pandas as pd

    qids, R = _raw_query_side(sf_dir, _RET_NQ)
    if len(qids):
        q0, q1 = _sign_words(R)
        t = R * 1000.0
        Q = np.sign(t) * np.floor(np.abs(t) + 0.5)
        qn = gram.norms(Q)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ham = _hamming(q0, q1, *_sign_words(v))
            r, c = gram.topk(
                ham, ids, _RET_SHORTLIST, desc=False, mask=gram.not_self(qids, ids)
            )
            tt = v * 1000.0
            qv = np.sign(tt) * np.floor(np.abs(tt) + 0.5)
            cos = gram.cosine(Q, qv, qn, gram.norms(qv))
            yield pd.DataFrame(
                {
                    "query_id": qids[r],
                    "cand_id": ids[c],
                    "hamming": ham[r, c],
                    "sim_raw": cos[r, c],
                }
            )

    part = emb.mapInPandas(
        _score, "query_id long, cand_id long, hamming long, sim_raw double"
    )
    wpre = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    shortlist = (
        part.withColumn("prk", F.row_number().over(wpre))
        .filter(F.col("prk") <= _RET_SHORTLIST)
    )
    wrk = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("cand_id")
    )
    return (
        shortlist.withColumn("sim", F.round(F.col("sim_raw"), 9))
        .withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= _RET_K)
        .select("query_id", "cand_id", "hamming", "sim", "rk")
        .orderBy("query_id", "rk")
    )
