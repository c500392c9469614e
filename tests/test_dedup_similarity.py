"""Invariants for dedup / similarity operators, incl. planted duplicates.

The synthetic corpus has no true near-duplicates (max pairwise cosine
≈0.48, no repeated texts), so recall-style properties are exercised on
small planted fixtures built inline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dmi_ingestor_spark.registry import load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def planted_docs(spark, sf_dir, tmp_path_factory):
    """A tiny corpus with exact dups and near-dups written as parquet,
    laid out like the driver's sf dirs so builders can run on it."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy", 1)  # one token differs
    other = "completely different content about spark query engines " * 6
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, base, "en", "src1", len(base)),      # exact dup of 0
        (2, near, "en", "src2", len(near)),      # near dup of 0
        (3, other, "en", "src3", len(other)),
        (4, other + "extra tail tokens", "en", "src4", len(other) + 17),
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("planted")
    df.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_minhash_finds_planted_dups(spark, planted_docs):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, planted_docs).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (2, 0) in pairs or (0, 2) in pairs  # near dup (1 token diff)
    assert not any({a, b} == {0, 3} for a, b in pairs)  # unrelated pair absent


def test_simhash_finds_planted_dups(spark, planted_docs):
    pairs = {
        (r.a_id, r.b_id)
        for r in REGISTRY["dedup_simhash"].builder(spark, planted_docs).collect()
    }
    assert (0, 1) in pairs
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_exact_dedup_groups_planted(spark, planted_docs):
    rows = REGISTRY["dedup_exact"].builder(spark, planted_docs).collect()
    by_keep = {r.keep_doc_id: r.n_copies for r in rows}
    assert by_keep[0] == 2  # docs 0 and 1 collapse, representative = min id
    assert len(rows) == 4


def test_float_and_quantized_topk_agree(spark, sf_dir):
    exact = REGISTRY["sim_topk_bruteforce"].builder(spark, sf_dir)
    from dmi_ingestor_spark.queries.similarity import sim_topk_float

    flt = sim_topk_float(spark, sf_dir)
    e = {(r.query_id, r.rk): r.neighbor_id for r in exact.collect()}
    f = {(r.query_id, r.rk): r.neighbor_id for r in flt.collect()}
    agree = sum(1 for k in e if f.get(k) == e[k])
    # quantization at 1e-3 may swap near-tied neighbors; ≥90% rank agreement
    assert agree / len(e) >= 0.9


def test_ann_lsh_pairs_are_truly_similar(spark, sf_dir):
    rows = REGISTRY["sim_ann_lsh_buckets"].builder(spark, sf_dir).collect()
    assert rows, "8-bit buckets over 500 vectors must yield some candidate pairs"
    # every reported pair passed the exact-cosine re-rank threshold
    for r in rows:
        assert r.sim >= 0.25
        assert r.a_id < r.b_id


def test_embedding_selfsim_is_one(spark, sf_dir):
    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.functions.vector import cosine

    emb = table(spark, sf_dir, "embeddings").limit(20).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = emb.select(cosine(F.col("v"), F.col("v")).alias("s")).collect()
    assert all(abs(r.s - 1.0) < 1e-12 for r in rows)


def test_ivf_self_match_and_shape(spark, sf_dir):
    """IVF invariants: each query returns TOP_K ranked rows from its
    probed cells, and finds itself at sim≈1 (its own cell is probe #1)."""
    from dmi_ingestor_spark.queries.similarity import N_QUERY, TOP_K

    rows = REGISTRY["sim_ann_ivf"].builder(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(N_QUERY))
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        assert sorted(r.rk for r in rs) == list(range(1, TOP_K + 1))
        self_hits = [r for r in rs if r.neighbor_id == q]
        assert self_hits and self_hits[0].sim > 0.999999, q


def test_pq_adc_shape_and_quality(spark, sf_dir):
    """PQ invariants: full top-k shape per query, and the ADC-selected
    neighbors are genuinely closer than the corpus average in TRUE
    (uncompressed) integer L2 — i.e. the compressed index is
    informative, not noise."""
    import numpy as np

    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.queries.similarity import N_QUERY, TOP_K

    rows = REGISTRY["sim_pq_adc"].builder(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(N_QUERY))

    emb = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1000)
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        assert sorted(r.rk for r in rs) == list(range(1, TOP_K + 1))
        qv = emb[q]
        true = {i: float(((qv - v) ** 2).sum()) for i, v in emb.items() if i != q}
        picked = sum(true[r.neighbor_id] for r in rs) / TOP_K
        corpus_avg = sum(true.values()) / len(true)
        assert picked < corpus_avg, (q, picked, corpus_avg)


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, triangle 10-11-12 (+edge 12-10), isolated pair 20-21:
    min-label propagation must find exactly these three components."""
    from dmi_ingestor_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        "a long, b long",
    ).repartition(3)
    got = {
        r.node: r.component for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """A 60-node path graph has diameter 59 > max_iter 25: plain min-label
    propagation would exit the loop with WRONG labels; pointer doubling
    (label-of-label shortcutting) converges in ~log2(59) rounds, so every
    node must reach component 0 well within the default iteration cap."""
    from dmi_ingestor_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "a long, b long"
    ).repartition(4)
    got = {
        r.node: r.component
        for r in connected_components(edges, "a", "b", checkpoint_every=3).collect()
    }
    assert got == {i: 0 for i in range(60)}


def test_ml_minhash_invariant_summary(spark, sf_dir):
    """The invariant summary the query emits (round-3 promotion, r7
    shingle rework): no emitted pair violates the 0.5 threshold, the
    LSH join recovers every identical-text pair at distance exactly 0
    (guaranteed J=1 recall), and the exact shingle-Jaccard truth count
    is nonzero on this data."""
    from dmi_ingestor_spark.registry import load_all

    import pandas as pd

    row = load_all()["ml_minhash_lsh_join"].builder(spark, sf_dir).collect()[0]
    assert row.n_dist_out_of_range == 0
    # J=1-recall invariant, validated locally (ADVICE r8: `>= 0` was
    # vacuous): the LSH join must emit EVERY identical-text pair among
    # docs with >= 3 tokens (3-gram shingles), so n_dup_pairs equals
    # the fixture's own identical-text group pair count.
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    k = docs[docs["text"].str.split(" ").str.len() >= 3].groupby("text").size()
    expected_dup_pairs = int((k * (k - 1) // 2).sum())
    assert row.n_dup_pairs == expected_dup_pairs
    assert row.n_true_pairs > 0


def test_ml_brp_ann_invariant_summary(spark, sf_dir):
    """k neighbors back, the query vector among them at distance 0, and
    every reported distance equal to the exact Euclidean recomputation."""
    from dmi_ingestor_spark.registry import load_all

    row = load_all()["ml_brp_lsh_ann"].builder(spark, sf_dir).collect()[0]
    assert row.n_neighbors == 5
    assert row.self_included == 1
    assert row.self_dist_nano == 0
    assert row.n_dist_mismatch == 0


# ---------------------------------------------------------------------------
# DF-cap candidacy invariant (VERDICT r8 item 3 / ADVICE r8)
# ---------------------------------------------------------------------------


def _py_shingles(text: str) -> set:
    """Python twin of ``_shingle_arrays``: distinct 3-gram shingles over a
    single-space token split (same semantics as ``F.split(text, ' ')``)."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@pytest.fixture(scope="module")
def hot_only_corpus(spark, tmp_path_factory):
    """Adversarial corpus for the DF-cap candidacy invariant.

    A 4-token boilerplate phrase opens 110 documents — strictly more
    than MAX_SHINGLE_DF=100 — so its two internal 3-gram shingles are
    HOT and every boilerplate-only pair (110*109/2 = 5,995 of them) is
    a candidate the r8 DF-capped candidacy DROPS. Each such doc carries
    20 unique filler tokens, so every hot-only pair is provably
    sub-threshold: J = 2/(22+22-2) ~= 0.048 < 0.20 < 0.5. Planted on
    top: one true near-dup pair (200, 201) sharing only RARE shingles
    (J = 7/9), and one MIXED pair (210, 211) that shares the hot
    boilerplate AND a rare segment (J = 11/13) — the cap must keep both.
    """
    rows = []
    boiler = "please subscribe to newsletter"
    for i in range(110):
        filler = " ".join(f"u{i}t{k}" for k in range(20))
        text = f"{boiler} {filler}"
        rows.append((i, text, "en", f"src{i}", len(text)))
    d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows.append((200, d1, "en", "src200", len(d1)))
    rows.append((201, d2, "en", "src201", len(d2)))
    m1 = f"{boiler} shared one two three four five six seven eight m1x"
    m2 = f"{boiler} shared one two three four five six seven eight m2x"
    rows.append((210, m1, "en", "src210", len(m1)))
    rows.append((211, m2, "en", "src211", len(m2)))
    df = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("hotonly")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    # Python brute-force reference state shared by both tests
    sets = {doc_id: _py_shingles(text) for doc_id, text, *_ in rows}
    df_count: dict = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    return str(d), sets, df_count


def test_df_cap_candidacy_lossless(spark, hot_only_corpus):
    """The DF-capped candidacy of dedup_ngram_jaccard never drops a
    pair at or above JACCARD_THRESHOLD: the capped query output equals
    the UNCAPPED all-pairs brute force at the threshold, on a fixture
    where the cap demonstrably bites (thousands of hot-only candidate
    pairs exist and are all sub-threshold by construction)."""
    from dmi_ingestor_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        MAX_SHINGLE_DF,
    )

    sf_dir, sets, df_count = hot_only_corpus
    ids = sorted(sets)
    expected = {}
    n_hot_only_cands = 0
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = sets[a] & sets[b]
            if not inter:
                continue
            if all(df_count[g] > MAX_SHINGLE_DF for g in inter):
                n_hot_only_cands += 1
                hot_j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
                # fixture property that makes the cap lossless here:
                # every hot-only pair is far below the threshold
                assert hot_j < JACCARD_THRESHOLD
            j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
            if j >= JACCARD_THRESHOLD:
                expected[(a, b)] = j
    # the adversarial premise is non-vacuous: the cap bites on this
    # fixture (every boilerplate pair is a hot-only candidate)
    assert n_hot_only_cands >= 5995
    assert (200, 201) in expected and (210, 211) in expected

    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert got[pair] == pytest.approx(j)


def test_df_cap_candidacy_bbit_contract(spark, hot_only_corpus):
    """dedup_minhash_b_bit's r8 candidacy narrowing (>=1 shared rare
    AND >=2 shared total, vs the pre-r8 '>=2 shared (any)') is a
    documented contract change: the pairs it drops are exactly the
    hot-only ones, and on this fixture every dropped pair is far below
    J=0.5 — so the narrowing never loses a J>=0.5 pair. Emitted
    exact_permille values are pinned against the brute force."""
    from dmi_ingestor_spark.queries.dedup import MAX_SHINGLE_DF

    sf_dir, sets, df_count = hot_only_corpus
    ids = sorted(sets)
    uncapped = {}   # pre-r8 candidacy: >=2 shared shingles of any df
    capped_ref = {}  # r8 candidacy: >=1 shared rare AND >=2 shared total
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = sets[a] & sets[b]
            if len(inter) < 2:
                continue
            j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
            uncapped[(a, b)] = j
            if any(df_count[g] <= MAX_SHINGLE_DF for g in inter):
                capped_ref[(a, b)] = j

    got = {
        (r.a_id, r.b_id): r.exact_permille
        for r in REGISTRY["dedup_minhash_b_bit"].builder(spark, sf_dir).collect()
    }
    # capped query output == the capped-candidacy brute force
    assert set(got) == set(capped_ref)
    for (a, b), j in capped_ref.items():
        assert got[(a, b)] == int(1000 * len(sets[a] & sets[b])) // (
            len(sets[a]) + len(sets[b]) - len(sets[a] & sets[b])
        )
    # the narrowing's loss set is exactly the hot-only pairs...
    dropped = set(uncapped) - set(capped_ref)
    assert len(dropped) >= 5995  # the cap bites: every boilerplate pair
    # ...and NO dropped pair reaches J=0.5 — the contract's rationale,
    # pinned (this is the assertion that fails if candidacy narrowing
    # ever drops a qualifying pair on a fixture)
    for pair in dropped:
        assert uncapped[pair] < 0.5
    # every J>=0.5 uncapped candidate survives the cap
    for pair, j in uncapped.items():
        if j >= 0.5:
            assert pair in got


def test_dbscan_lsh_oracle_quantizes_like_the_builder(spark, tmp_path):
    """float32 0.144 is 0.14399999… in double, so floor(x * 1000) is 143
    in double but 144 when DuckDB keeps FLOAT * INTEGER in single
    precision. The pair below is an eps-neighbour only under the single
    precision grid (|1368 - 144| = 1224, |1368 - 143| = 1225, and
    1224² ≤ eps² < 1225²); the oracle must quantize in double like the
    Spark builder."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.oracle_check import compare, normalize

    f32 = np.float32
    assert f32(0.144) * f32(1000) == 144.0
    assert np.floor(np.float64(f32(0.144)) * 1000) == 143.0

    def vec(x0: float) -> list[float]:
        return [x0] + [0.0] * 63

    table = pa.table(
        {
            "vec_id": pa.array([0, 1, 2], pa.int64()),
            "embedding": pa.array(
                [vec(0.144), vec(1.3685), vec(1.3685)], pa.list_(pa.float32())
            ),
            "label": pa.array([0, 0, 0], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    spec = REGISTRY["cluster_dbscan_lsh_blocked"]
    got = spec.builder(spark, str(tmp_path)).toPandas()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
        want = con.execute(spec.oracle).fetchdf()
    assert got["eps_ball_count"].tolist() == [1, 2, 2]
    assert not compare(spec.name, normalize(got), normalize(want))


def test_knn_classifier_eval_matches_oracle_with_null_labels(spark, tmp_path):
    """Every 7th label NULL, as a weakly labeled corpus has. The vote
    tiebreak must order a NULL neighbour label last (DuckDB's default)
    and the NULL class must count 0 correct (the oracle's CASE), not
    NULL."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.oracle_check import compare, normalize

    rng = np.random.default_rng(11)
    n = 200
    table = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                list(rng.normal(0.0, 0.1, (n, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(
                [None if i % 7 == 0 else i % 3 for i in range(n)], pa.int32()
            ),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    spec = REGISTRY["ml_knn_classifier_eval"]
    got = spec.builder(spark, str(tmp_path)).toPandas()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
        want = con.execute(spec.oracle).fetchdf()
    assert got["label"].isna().sum() == 1
    assert not compare(spec.name, normalize(got), normalize(want))
