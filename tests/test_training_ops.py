"""Training-data pipeline ops: dedup family, text analysis, ANN.

Each op is checked two ways: (a) bit-identical vs its DuckDB oracle
(the driver-contract gate), (b) semantic properties a correct
implementation must satisfy (LSH candidates contain the truly-similar
pairs, IVF recall vs brute force, etc.).
"""

import pyspark.sql.functions as F

from conftest import SF_DIR, assert_matches_oracle
from pfaedle_spark import datagen
from pfaedle_spark.functions import textstats
from pfaedle_spark.operators import dedup, simsearch


def _docs(spark):
    return datagen.documents(spark, SF_DIR)


def _corpus(spark):
    return datagen.dedup_corpus(spark, SF_DIR)


def _emb(spark):
    return datagen.embeddings(spark, SF_DIR)


# --- oracle parity ---------------------------------------------------

def test_exact_dedup_oracle(spark):
    assert_matches_oracle(dedup.exact_dedup(_corpus(spark)), dedup.exact_dedup_sql())


def test_minhash_pairs_oracle(spark):
    assert_matches_oracle(dedup.minhash_pairs(_corpus(spark)), dedup.minhash_pairs_sql())


def test_ngram_jaccard_oracle(spark):
    assert_matches_oracle(dedup.ngram_jaccard(_corpus(spark)), dedup.ngram_jaccard_sql())


def test_simhash_oracle(spark):
    assert_matches_oracle(dedup.simhash(_corpus(spark)), dedup.simhash_table_sql())


def test_simhash_pairs_oracle(spark):
    assert_matches_oracle(dedup.simhash_pairs(_corpus(spark)), dedup.simhash_pairs_sql())


def test_text_stats_oracle(spark):
    assert_matches_oracle(textstats.text_stats(_docs(spark)), textstats.text_stats_sql())


def test_lang_id_oracle(spark):
    assert_matches_oracle(textstats.lang_id(_docs(spark)), textstats.lang_id_sql())


def test_fingerprints_oracle(spark):
    assert_matches_oracle(textstats.fingerprints(_docs(spark)), textstats.fingerprints_sql())


def test_ann_brute_oracle(spark):
    assert_matches_oracle(simsearch.ann_brute(_emb(spark)), simsearch.ann_brute_sql())


def test_ivf_topk_oracle(spark):
    assert_matches_oracle(simsearch.ivf_topk(_emb(spark)), simsearch.ivf_topk_sql())


def test_ivf_buckets_oracle(spark):
    assert_matches_oracle(
        simsearch.ivf_assign_counts(_emb(spark)), simsearch.ivf_assign_counts_sql()
    )


# --- semantic properties ---------------------------------------------

def test_exact_dedup_partitions_the_table(spark):
    rows = dedup.exact_dedup(_corpus(spark)).collect()
    n_docs = _corpus(spark).count()
    assert len(rows) == n_docs
    # canonical ids are members of their own group and never duplicates
    canon = {r.canonical_id for r in rows}
    for r in rows:
        if r.doc_id in canon and r.doc_id == r.canonical_id:
            assert not r.is_duplicate


def test_minhash_estimates_track_exact_jaccard(spark):
    """On LSH candidate pairs, |est - exact| stays within the standard
    error of a 16-perm signature (~0.25 at 2 sigma)."""
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in dedup.minhash_pairs(_corpus(spark)).collect()}
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard(_corpus(spark)).collect()
    }
    assert set(est) == set(exact) and est
    bad = [(p, est[p], exact[p]) for p in est if abs(est[p] - exact[p]) > 0.5]
    assert not bad, f"minhash estimate far from exact jaccard: {bad[:5]}"


def test_simhash_pairs_symmetric_banding_complete(spark):
    """Pigeonhole guarantee: every pair with hamming <= 3 appears."""
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(_corpus(spark)).collect()}
    found = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(_corpus(spark)).collect()}
    ids = sorted(sigs)[:80]  # bound the O(n^2) reference check
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= dedup.HAMMING_MAX:
                assert (a, b) in found


def test_lang_id_hits_consistent(spark):
    rows = textstats.lang_id(_docs(spark)).collect()
    for r in rows:
        hits = {lang: r[f"hits_{lang}"] for lang in textstats.LANGS}
        if max(hits.values()) == 0:
            assert r.lang_guess == "und"
        else:
            best = max(hits.values())
            expect = sorted(lang for lang in hits if hits[lang] == best)[0]
            assert r.lang_guess == expect


def test_ann_brute_ordering_and_range(spark):
    rows = simsearch.ann_brute(_emb(spark)).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cos = [r.cosine for r in rs]
        assert all(-1.000001 <= c <= 1.000001 for c in cos)
        assert cos == sorted(cos, reverse=True)


def test_ivf_recall_vs_brute(spark):
    """Bucketed search keeps a reasonable share of the true top-k
    (approximate by design; on this data recall@5 should be > 0.3)."""
    brute = {(r.query_id, r.vec_id) for r in simsearch.ann_brute(_emb(spark)).collect()}
    ivf = {(r.query_id, r.vec_id) for r in simsearch.ivf_topk(_emb(spark)).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall > 0.3, f"IVF recall collapsed: {recall}"


def test_ivf_topk_served_from_prebuilt_index(spark):
    """The serving path (assigned= a stored ivf_assign output, however
    it is partitioned) returns exactly what the inline path computes —
    the index build is amortizable across query batches."""
    inline = simsearch.ivf_topk(_emb(spark)).collect()
    index = simsearch.ivf_assign(_emb(spark)).repartition(16, "vec_id")
    served = simsearch.ivf_topk(assigned=index).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, inline))


def test_ivf_buckets_cover_all_vectors(spark):
    total = sum(r.n_vectors for r in simsearch.ivf_assign_counts(_emb(spark)).collect())
    assert total == _emb(spark).count()


def test_emb_neardup_oracle(spark):
    assert_matches_oracle(simsearch.emb_neardup(_emb(spark)), simsearch.emb_neardup_sql())


def test_srp_keys_udf_matches_expression_twin(spark):
    """The Arrow-batched matmul kernel must be bit-identical to the
    pure Catalyst HOF expression on every vector (base + jittered
    variants) — both are in-range int64 arithmetic, so any drift is a
    bug, not float noise."""
    from pyspark.sql import functions as F

    vecs = simsearch._neardup_variants(_emb(spark))
    both = vecs.select(
        "vec_id",
        simsearch._srp_keys_np()(F.col("qv")).alias("np_keys"),
        simsearch._srp_keys_expr().alias("expr_keys"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert r.np_keys == r.expr_keys, r.vec_id


def test_srp_keys_udf_null_key_for_null_or_ragged_vector(spark):
    """A null or wrong-length qv yields a null key instead of failing
    the stage; the well-formed row in the same batch keeps its key."""
    good = [(i * 7) % 11 - 5 for i in range(simsearch.EMB_DIM)]
    df = spark.createDataFrame(
        [(0, good), (1, None), (2, good[:5])], "vec_id long, qv array<long>"
    )
    rows = df.select(
        "vec_id",
        simsearch._srp_keys_np()(F.col("qv")).alias("np_keys"),
        simsearch._srp_keys_expr().alias("expr_keys"),
    ).orderBy("vec_id").collect()
    assert rows[0].np_keys == rows[0].expr_keys and rows[0].np_keys is not None
    assert rows[1].np_keys is None and rows[2].np_keys is None


def test_srp_keys_udf_is_arrow_vectorized(spark):
    """The SRP kernel must run as ArrowEvalPython (pandas batches), not
    row-at-a-time BatchEvalPython — the no-per-row-Python rule."""
    plan = (
        simsearch._srp_signatures(simsearch._neardup_variants(_emb(spark)))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_emb_neardup_finds_every_planted_pair(spark):
    """Recall must be exact: every jittered copy pairs with its base
    (cosine ≈ 0.9999), and no pair of distinct base vectors survives
    (the testdata embeddings are mutually near-orthogonal)."""
    rows = simsearch.emb_neardup(_emb(spark)).collect()
    n_base = _emb(spark).count()
    planted = {
        (v, v + simsearch.VAR_OFFSET)
        for v in range(0, n_base, simsearch.VSTRIDE)
    }
    got = {(r.a_id, r.b_id) for r in rows}
    assert got == planted
    assert all(r.cosine >= simsearch.NEARDUP_THRESH for r in rows)


def test_phash_neardup_oracle(spark):
    from pfaedle_spark import datagen as dg

    assert_matches_oracle(
        dedup.phash_neardup(dg.points(spark, SF_DIR)), dedup.phash_neardup_sql()
    )


def test_phash_neardup_finds_planted_copies(spark):
    """Every planted 3-bit-flipped copy pairs with its base (hamming <= 3);
    no cross-base pair qualifies (phashes are multiplicative-hash spread)."""
    from pfaedle_spark import datagen as dg

    rows = dedup.phash_neardup(dg.points(spark, SF_DIR)).collect()
    n = dg.points(spark, SF_DIR).count()
    planted = {(d, d + dedup.PHASH_VOFF) for d in range(0, n, dedup.PHASH_VSTRIDE)}
    got = {(r.a_id, r.b_id) for r in rows}
    assert got == planted
    assert all(0 < r.hamming <= dedup.PHASH_HAM_T for r in rows)


def test_phash_chunk_partition_covers_64_bits():
    """The 5 pigeonhole chunks must partition bits 0..63 exactly (a gap
    would break completeness; an overlap would waste band rows) and
    count one more chunk than the hamming threshold."""
    assert sum(dedup._PHASH_WIDTHS) == 64
    off = 0
    for o, w in zip(dedup._PHASH_OFFS, dedup._PHASH_WIDTHS):
        assert o == off
        off += w
    assert len(dedup._PHASH_OFFS) == dedup.PHASH_CHUNKS == dedup.PHASH_HAM_T + 1


def test_phash_pairs_pigeonhole_complete(spark):
    """Pigeonhole guarantee under the 5-chunk scheme: every pair with
    hamming <= PHASH_HAM_T appears — brute-checked on the planted
    neighborhoods (base ids with variants, where qualifying pairs
    actually exist) plus a spread-id control slice."""
    from pfaedle_spark import datagen as dg

    corpus = {
        r.img_id: r.phash for r in dedup.phash_corpus(dg.points(spark, SF_DIR)).collect()
    }
    found = {
        (r.a_id, r.b_id) for r in dedup.phash_neardup(dg.points(spark, SF_DIR)).collect()
    }
    varids = [i for i in corpus if i >= dedup.PHASH_VOFF][:60]
    ids = sorted(
        set(varids) | {i - dedup.PHASH_VOFF for i in varids} | set(sorted(corpus)[:60])
    )
    mask = (1 << 64) - 1
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((corpus[a] ^ corpus[b]) & mask).count("1") <= dedup.PHASH_HAM_T:
                assert (a, b) in found


def test_dedup_chain_matches_composed_oracle(spark):
    """The production composition (shingles/signatures/pairs shared
    once) must agree with the single-CTE-chain oracle — and with the
    standalone operators it composes."""
    import __spark_entry__ as entrymod

    assert_matches_oracle(
        entrymod.queries()["dedup_chain"](spark, SF_DIR),
        entrymod.oracle_sql()["dedup_chain"],
    )
    # pair rows == minhash_pairs ⋈ ngram_jaccard (sharing changes plans,
    # never values)
    chain = dedup.dedup_chain(datagen.dedup_corpus(spark, SF_DIR))
    pairs = {
        (r.a, r.b): (r.est_jaccard, r.metric)
        for r in chain.filter("kind = 'pair'").collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_pairs(datagen.dedup_corpus(spark, SF_DIR)).collect()
    }
    ex = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard(datagen.dedup_corpus(spark, SF_DIR)).collect()
    }
    assert pairs.keys() == est.keys() == ex.keys()
    for k, (e, j) in pairs.items():
        assert e == est[k] and j == ex[k], k


# hand-built corner cases of the token split and the shingle roll; ids
# that are multiples of 5 or 7 also get the oracle corpus's planted copies
_KERNEL_DOCS = [
    (1, None),
    (2, ""),
    (3, "two tokens"),
    (4, "exactly three tokens"),
    (5, "planted near copy base text"),
    (6, "same same same same same"),
    (7, "planted exact copy"),
    (8, " leading space here"),
    (9, "trailing space here "),
    (11, "double  space  between  words"),
    (12, "  "),
    (13, "größe straße café 東京 駅 naïve"),
    (16, "a b c a b c a b c d"),
    (17, "nospace"),
]


def test_doc_array_kernel_matches_oracle_ctes():
    """The Arrow batch kernel's per-doc hs / sig / bands against the
    oracle's shingles / sig / bands CTEs, bit for bit, on split corner
    cases: hs as a set and a size, and in first-occurrence order of the
    doc's shingle sequence (Spark's array_distinct)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(_KERNEL_DOCS, columns=["doc_id", "text"]))
    cte = f"WITH {dedup._int_pairs_cte().lstrip()}\n"

    def per_doc(sql):
        return {d: list(v) for d, v in con.execute(cte + sql).fetchall()}

    corpus = con.execute(cte + "SELECT doc_id, text FROM corpus").fetch_arrow_table()
    want_sets = per_doc("SELECT doc_id, LIST(sh_hash) FROM shingles GROUP BY doc_id")
    want_seq = per_doc(
        f"SELECT doc_id, LIST_TRANSFORM(RANGE(0, n - {dedup.SHINGLE_K - 1}), "
        f"i -> {dedup._roll_sql('i', dedup.SHINGLE_K)}) FROM tokh"
    )
    want_sig = per_doc("SELECT doc_id, LIST(minhash ORDER BY perm) FROM sig GROUP BY doc_id")
    want_bands = per_doc("SELECT doc_id, LIST(band_sig ORDER BY band) FROM bands GROUP BY doc_id")
    con.close()

    longs = pa.list_(pa.int64())
    schema = pa.schema([("doc_id", pa.int64()), ("hs", longs), ("sig", longs), ("bands", longs)])
    out = pa.Table.from_batches(
        dedup._doc_array_batches(corpus.to_batches()), schema=schema
    ).to_pylist()
    got = {r["doc_id"]: r for r in out}
    assert len(got) == len(out)
    assert got.keys() == want_sets.keys() == want_sig.keys() == want_bands.keys()
    # null, empty, 1- and 2-token texts are dropped; the rest are kept
    assert {1, 2, 3, 17}.isdisjoint(got)
    assert {4, 6, 8, 9, 11, 12, 13, 16, 1000005, 2000007} <= got.keys()
    assert len(got[16]["hs"]) < len(want_seq[16])
    for d, r in got.items():
        assert sorted(r["hs"]) == sorted(want_sets[d]), d
        assert r["hs"] == list(dict.fromkeys(want_seq[d])), d
        assert r["sig"] == want_sig[d], d
        assert r["bands"] == want_bands[d], d


def test_dedup_chain_independent_of_arrow_batch_size(spark):
    """The kernel's per-batch token table and offsets must not leak
    across batches: 3-record Arrow batches give the same chain rows as
    the default batch size."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def rows():
        return sorted(dedup.dedup_chain(_corpus(spark)).collect(), key=str)

    want = rows()
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = rows()
    finally:
        spark.conf.set(key, old)
    assert any(r.kind == "pair" for r in want)
    assert got == want


def test_minhash_chunks_match_one_shot_minimum():
    """The chunked MinHash at a 1-row, a 7-row and the default budget
    equals the one-shot per-doc minimum of (h*a + b) % P, including a
    doc with more shingles than the budget (it spans several chunks)."""
    import numpy as np

    rng = np.random.default_rng(5)
    a, b = (np.array(c, dtype=np.int64) for c in zip(*dedup.perm_constants()))
    sizes = [1, 3, 20, 2, dedup._MINHASH_CHUNK_ROWS + 1000, 7, 8, 1]
    doc = np.repeat(np.arange(len(sizes)), sizes)
    hs = rng.integers(0, dedup.P31, size=len(doc), dtype=np.int64)
    starts = np.r_[0, np.cumsum(sizes)[:-1]]
    want = np.minimum.reduceat((hs[:, None] * a + b) % dedup.P31, starts, axis=0)
    for rows in (1, 7, dedup._MINHASH_CHUNK_ROWS):
        assert max(sizes) > rows
        got = dedup._minhash(hs, doc, len(sizes), a, b, chunk_rows=rows)
        assert np.array_equal(got, want), rows


def test_phash_clusters_matches_closure_oracle(spark):
    """Near-dup pairs -> CC clusters -> keep-one: checked against the
    transitive-closure recursive-CTE oracle, plus the semantic gates a
    dedup reduction must satisfy."""
    import __spark_entry__ as entrymod

    assert_matches_oracle(
        entrymod.queries()["phash_clusters"](spark, SF_DIR),
        entrymod.oracle_sql()["phash_clusters"],
    )
    df = entrymod.queries()["phash_clusters"](spark, SF_DIR).toPandas()
    # exactly one kept representative per cluster, and it IS the label
    per = df.groupby("cluster")["keep"].sum()
    assert (per == 1).all()
    assert (df[df["keep"]]["img_id"] == df[df["keep"]]["cluster"]).all()
    # every pair's endpoints landed in the same cluster
    pairs = entrymod.queries()["phash_neardup"](spark, SF_DIR).toPandas()
    lbl = dict(zip(df["img_id"], df["cluster"]))
    assert all(lbl[a] == lbl[b] for a, b in zip(pairs["a_id"], pairs["b_id"]))


def test_corpus_gate_matches_oracle(spark):
    from conftest import assert_matches_oracle
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import dedup

    df = dedup.corpus_gate(datagen.documents(spark, SF_DIR))
    assert_matches_oracle(df, dedup.corpus_gate_sql())
    pdf = df.toPandas()
    # the gate must actually discriminate on this corpus
    assert 0 < pdf["keep"].sum() < len(pdf)


def test_corpus_gate_drops_planted_duplicates(spark):
    """The exact-dup leg: plant copies of a slice of the corpus at
    shifted doc_ids — every copy must be flagged is_exact_dup and
    dropped, while its canonical original keeps its own verdict."""
    from pyspark.sql import functions as F

    from pfaedle_spark import datagen
    from pfaedle_spark.operators import dedup

    docs = datagen.documents(spark, SF_DIR)
    echo = docs.filter(F.col("doc_id") % 10 == 3).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    g = dedup.corpus_gate(docs.unionByName(echo)).toPandas()
    copies = g[g["doc_id"] >= 1000000]
    assert len(copies) > 0
    assert copies["is_exact_dup"].all()
    assert not copies["keep"].any()
    originals = g[(g["doc_id"] % 10 == 3) & (g["doc_id"] < 1000000)]
    assert not originals["is_exact_dup"].any()
