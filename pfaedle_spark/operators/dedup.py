"""Deduplication operators over the ``documents`` table.

Large-scale training-data pipeline ops, Spark-first:

* exact dedup       — md5-groupBy (one shuffle, map-side combinable)
* MinHash + LSH     — shingle -> minhash signature -> band -> bucket join
* SimHash           — 60-bit signature + pigeonhole-banded near-dup pairs
* n-gram Jaccard    — exact similarity on LSH candidate pairs only

The relational parts (groupings, band joins, pair scoring) are built-in
column expressions (JVM-side, codegen). The per-doc shingle / MinHash /
band arrays are one numpy kernel per Arrow batch (``mapInArrow``):
as Catalyst higher-order functions they ran interpreted once per
shingle x perm. The only "hash" primitive is md5 so the DuckDB oracle
reproduces every value bit-identically (engine hash functions like
xxhash differ between engines). The token hash is the md5-derived
60-bit integer reduced mod 2^31-1 so permuted hashes ``(a*h+b) mod p``
never overflow int64.

Scale notes (100 TB): every stage is a shuffle on a well-distributed
key (doc_id, shingle hash, band signature). The band self-join is the
classic LSH bucket join — bucket sizes are bounded by band width, and
AQE skew-join covers pathological buckets. No driver-side state.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- tunables (shared with the SQL oracle below) ---------------------
P31 = 2147483647          # 2^31 - 1 (Mersenne prime)
                          # a_i, h < p  =>  a_i*h < (p-1)^2 < 2^63: no overflow
NUM_PERMS = 16
BANDS = 4                 # 4 bands x 4 rows
ROWS_PER_BAND = NUM_PERMS // BANDS
SHINGLE_K = 3             # word trigrams
SIMHASH_BITS = 60         # full md5-prefix width (15 hex chars)
SIMHASH_CHUNKS = 4        # pigeonhole: hamming<=3 => one of 4 chunks equal
SIMHASH_CHUNK_W = SIMHASH_BITS // SIMHASH_CHUNKS  # 15-bit chunk keys
HAMMING_MAX = 3


# DuckDB mirror of datagen.dedup_corpus (documents + planted dups)
CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, 'xdup' || SUBSTRING(text, INSTR(text, ' '))
  FROM documents WHERE doc_id % 5 = 0
)"""


def h60(col: Column) -> Column:
    """60-bit md5 prefix as integer (both engines, exact)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _h60_sql(expr: str) -> str:
    return f"CAST(('0x' || SUBSTRING(MD5({expr}), 1, 15)) AS BIGINT)"


def h31(col: Column) -> Column:
    """60-bit md5 prefix as integer, reduced mod 2^31-1 (both engines)."""
    return h60(col) % P31


def _h31_sql(expr: str) -> str:
    return f"({_h60_sql(expr)} % {P31})"


def _h31_py(s: str) -> int:
    """h31 of one string with hashlib (md5 of its UTF-8 bytes, as both
    engines hash)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P31


# --------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Each doc -> canonical representative (min doc_id of its exact-text
    group) + group size. Single hash-shuffle on md5(text)."""
    keyed = docs.select("doc_id", F.md5("text").alias("text_hash"))
    groups = keyed.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").cast("long").alias("group_size"),
    )
    return (
        keyed.join(groups, "text_hash")
        .select("doc_id", "canonical_id", "group_size",
                (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"))
    )


def exact_dedup_sql() -> str:
    return f"""
WITH {CORPUS_CTE.lstrip()},
keyed AS (SELECT doc_id, MD5(text) AS text_hash FROM corpus),
grp AS (
  SELECT text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
  FROM keyed GROUP BY text_hash
)
SELECT k.doc_id, g.canonical_id, g.group_size,
       k.doc_id <> g.canonical_id AS is_duplicate
FROM keyed k JOIN grp g USING (text_hash)
"""


# --------------------------------------------------------------------
# shingles
# --------------------------------------------------------------------

ROLL_B = 1000003  # polynomial base of the shingle rolling hash


def _roll_sql(i_base: str, k: int) -> str:
    expr = f"th[{i_base}+1]"
    for j in range(1, k):
        expr = f"(({expr}) * {ROLL_B} % {P31} + th[{i_base}+{j + 1}]) % {P31}"
    return expr


def _shingles_cte(k: int = SHINGLE_K) -> str:
    return f"""
{CORPUS_CTE.lstrip()},
tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM corpus),
tokh AS (
  SELECT doc_id, LIST_TRANSFORM(toks, t -> {_h31_sql('t')}) AS th,
         LEN(toks) AS n
  FROM tok WHERE LEN(toks) >= {k}
),
shingles AS (
  SELECT DISTINCT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(0, n - {k - 1}),
                               i -> {_roll_sql('i', k)})) AS sh_hash
  FROM tokh
)"""


# --------------------------------------------------------------------
# MinHash signatures + LSH bands
# --------------------------------------------------------------------

def perm_constants(num_perms: int = NUM_PERMS) -> list[tuple[int, int]]:
    """Independent per-perm (a_i, b_i) derived from md5 — computed here
    with hashlib, bit-identical to the engines' md5 (NOT multiples of a
    shared base: a_i = c*i would make every permuted hash a multiple of
    one value and collapse all minima onto a single shared shingle)."""
    return [(_h31_py(f"{i}a") % (P31 - 1) + 1, _h31_py(f"{i}b")) for i in range(num_perms)]


def _minhash_cte(num_perms: int = NUM_PERMS) -> str:
    a = _h31_sql("CAST(perm AS VARCHAR) || 'a'")
    b = _h31_sql("CAST(perm AS VARCHAR) || 'b'")
    return f"""{_shingles_cte()},
perms AS (SELECT perm, {a} % {P31 - 1} + 1 AS pa, {b} AS pb
          FROM (SELECT UNNEST(RANGE(0, {num_perms})) AS perm)),
sig AS (
  SELECT s.doc_id, p.perm,
         MIN((p.pa * s.sh_hash + p.pb) % {P31}) AS minhash
  FROM shingles s CROSS JOIN perms p
  GROUP BY s.doc_id, p.perm
)"""


# --------------------------------------------------------------------
# shared array-native pair kernel
# --------------------------------------------------------------------
# The whole pair family (minhash_pairs / ngram_jaccard / dedup_chain)
# runs off ONE per-doc table of (distinct shingle-hash array, signature
# array, integer band keys) and ONE integer-band candidate join. The
# exploded-row form (64 sig rows + |shingles| rows per doc through three
# joins) measured ~2x slower at sf0.1 and scaled 0.66 at N->4N vs 0.77
# array-native — the decomposition is in SCALING.md round-4 notes.

# Byte budget of one MinHash block of (NUM_PERMS x shingles) int64
# permuted hashes: one-shot, a batch would materialize 8*NUM_PERMS
# bytes per shingle of the whole batch at once (and 8 MiB blocks also
# measured faster than one-shot on the benchmark corpus).
_MINHASH_CHUNK_BYTES = 8 << 20
_MINHASH_CHUNK_ROWS = _MINHASH_CHUNK_BYTES // (8 * NUM_PERMS)


def _token_hashes(tokens: pa.Array) -> np.ndarray:
    """h31 of every token, md5-ing each DISTINCT token of the array
    once (a corpus repeats its vocabulary; the md5 is the costly part)."""
    uniq = pc.unique(tokens)
    th = np.array([_h31_py(t) for t in uniq.to_pylist()], dtype=np.int64)
    return th[pc.index_in(tokens, value_set=uniq).to_numpy()]


def _shingle_hashes(th: np.ndarray, lens: np.ndarray, k: int = SHINGLE_K):
    """(doc index, hash) of every word k-shingle, docs laid out back to
    back in the flat token-hash array `th` with `lens` (each >= k)
    tokens: the integer polynomial (((th[i]*B % P) + th[i+1]) * B % P
    + ...) % P, whose intermediates stay < P*B ~ 2.1e15 — the oracle's
    _roll_sql exactly."""
    doc = np.repeat(np.arange(len(lens)), lens - (k - 1))
    # each doc has k-1 fewer shingles than tokens, so the flat shingle
    # index runs (k-1) per preceding doc behind its first token's index
    pos = np.arange(len(doc)) + doc * (k - 1)
    s = th[pos]
    for j in range(1, k):
        s = (s * ROLL_B % P31 + th[pos + j]) % P31
    return doc, s


def _distinct_per_doc(doc: np.ndarray, s: np.ndarray):
    """Per-doc distinct values in first-occurrence order (Spark's
    array_distinct). `doc` is ascending and s < 2^31, so doc<<31 | s is
    a unique key per (doc, value)."""
    _, first = np.unique((doc << 31) | s, return_index=True)
    first.sort()
    return doc[first], s[first]


def _minhash(hs: np.ndarray, doc: np.ndarray, n_docs: int, a: np.ndarray, b: np.ndarray,
             chunk_rows: int = _MINHASH_CHUNK_ROWS) -> np.ndarray:
    """(n_docs, len(a)) signatures: per doc and perm the minimum of
    (a*h + b) % P over its hashes `hs` (grouped by ascending `doc`).
    At most `chunk_rows` hashes are permuted at once; a doc that spans
    chunks folds its partial minima with np.minimum. The block is
    perm-major so each reduceat runs along contiguous memory (measured
    2x faster than hash-major on the benchmark corpus)."""
    sig = np.full((len(a), n_docs), P31, dtype=np.int64)
    for lo in range(0, len(hs), chunk_rows):
        h, d = hs[lo:lo + chunk_rows], doc[lo:lo + chunk_rows]
        cut = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        x = a[:, None] * h
        x += b[:, None]
        np.remainder(x, P31, out=x)
        sig[:, d[cut]] = np.minimum(sig[:, d[cut]], np.minimum.reduceat(x, cut, axis=1))
    return sig.T


def _band_keys(sig: np.ndarray) -> np.ndarray:
    """Integer band signatures: the shingle polynomial folded (from 0,
    so the first step is the first minhash) over each ROWS_PER_BAND
    slice of the signature — an 8-byte join key instead of a 32-char
    md5 string. Collisions in the 2^31 space add a few deterministic
    spurious candidate pairs per million docs — identical in both
    engines (the oracle folds the same polynomial via list_reduce), and
    spurious pairs just score near-0 like any LSH false positive."""
    rows = sig.reshape(len(sig), BANDS, ROWS_PER_BAND)
    key = np.zeros((len(sig), BANDS), dtype=np.int64)
    for j in range(ROWS_PER_BAND):
        key = (key * ROLL_B + rows[:, :, j]) % P31
    return key


def _list_array(offsets: np.ndarray, values: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(values, pa.int64()))


def _row_lists(m: np.ndarray) -> pa.ListArray:
    """One list per row of the 2-D array `m`."""
    return _list_array(np.arange(0, m.size + 1, m.shape[1]), m.ravel())


def _doc_array_batches(batches):
    """mapInArrow kernel: (doc_id, text) batches -> (doc_id, hs, sig,
    bands) for every doc with at least SHINGLE_K tokens. Tokens are the
    ' '-split of text (leading, trailing and repeated spaces give empty
    tokens, as Spark's split and DuckDB's STRING_SPLIT do); null text is
    dropped like the oracle's LEN(NULL) >= k filter. Each batch is
    self-contained: no state carries from one batch to the next."""
    a, b = (np.array(c, dtype=np.int64) for c in zip(*perm_constants()))
    for rb in batches:
        toks = pc.split_pattern(rb.column("text"), " ")
        keep = pc.fill_null(pc.greater_equal(pc.list_value_length(toks), SHINGLE_K), False)
        toks = toks.filter(keep)
        n = len(toks)
        if n == 0:
            continue
        lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
        doc, s = _shingle_hashes(_token_hashes(pc.list_flatten(toks)), lens)
        doc, hs = _distinct_per_doc(doc, s)
        sig = _minhash(hs, doc, n, a, b)
        yield pa.RecordBatch.from_arrays(
            [
                rb.column("doc_id").filter(keep),
                _list_array(np.r_[0, np.cumsum(np.bincount(doc, minlength=n))], hs),
                _row_lists(sig),
                _row_lists(_band_keys(sig)),
            ],
            names=["doc_id", "hs", "sig", "bands"],
        )


def _doc_array_rows(docs: DataFrame) -> DataFrame:
    """The lazy per-doc array table: one Arrow batch kernel over
    (doc_id, text), no per-element Catalyst lambdas."""
    return docs.select("doc_id", "text").mapInArrow(
        _doc_array_batches,
        "doc_id long, hs array<long>, sig array<long>, bands array<long>",
    )


def _doc_arrays(docs: DataFrame) -> DataFrame:
    """Per-doc (hs = distinct shingle-hash array, sig = minhash
    signature array, bands = integer band keys), eagerly materialized:
    every consumer branches off it at least twice. The EAGER
    localCheckpoint makes the materialization its own job at a
    deterministic point."""
    return _doc_array_rows(docs).localCheckpoint(eager=True)


def _band_pairs(arr: DataFrame) -> DataFrame:
    """LSH candidate pairs from the array table: explode integer bands,
    one equi-self-join, ordered dedup."""
    bands = arr.select("doc_id", F.posexplode("bands").alias("band", "band_sig"))
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    return (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _pair_members(arr: DataFrame, pairs: DataFrame) -> DataFrame:
    """Array rows of pair MEMBERS only: the pair list is sparse, so
    shuffling the full array table into the scoring joins moves
    mostly-dead rows — at 10^12 docs that full-table shuffle IS the
    job. A broadcast semi-join on the (small) member list drops it
    map-side before any exchange. No .distinct() on the member list:
    the left_semi hash build dedups keys natively."""
    pair_docs = pairs.select(F.col("doc_a").alias("doc_id")).union(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    return arr.join(F.broadcast(pair_docs), "doc_id", "left_semi")


def _int_pairs_cte() -> str:
    """Oracle twin of _doc_arrays + _band_pairs: sig/shingles CTEs plus
    the integer band fold (list_reduce seed = first element ≡ Spark's
    0-init fold, since (0*B + x) % P = x) and the ordered pair dedup."""
    rows = NUM_PERMS // BANDS
    return f"""{_minhash_cte().lstrip()},
bands AS (
  SELECT doc_id, CAST(perm // {rows} AS INT) AS band,
         LIST_REDUCE(LIST(minhash ORDER BY perm),
                     (a, b) -> (a * {ROLL_B} + b) % {P31}) AS band_sig
  FROM sig GROUP BY doc_id, perm // {rows}
),
cand_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
)"""


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard (= matching-perm share).

    Integer-band bucket self-join on the shared array kernel; signature
    agreement is one zip_with over the two signature ARRAYS (exact
    rational k/NUM_PERMS) — per pair the shuffle carries 2 arrays, not
    2 x NUM_PERMS exploded rows."""
    arr = _doc_arrays(docs)
    pairs = _band_pairs(arr)
    m = _pair_members(arr, pairs)
    sa = m.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = m.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                / F.lit(NUM_PERMS)
            ).alias("est_jaccard"),
        )
    )


def minhash_pairs_sql() -> str:
    return f"""WITH {_int_pairs_cte().lstrip()}
SELECT p.doc_a, p.doc_b,
       CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE)
         / {NUM_PERMS} AS est_jaccard
FROM cand_pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b AND sb.perm = sa.perm
GROUP BY p.doc_a, p.doc_b
"""


# --------------------------------------------------------------------
# exact n-gram Jaccard on the LSH candidates
# --------------------------------------------------------------------

def ngram_jaccard(docs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for every LSH candidate pair.

    |A ∩ B| = array_intersect over the two (distinct) shingle-hash
    arrays of the shared kernel, |A ∪ B| = |A|+|B|-|A∩B|; the division
    of two exact integers is bit-identical across engines. Per pair the
    shuffle carries 2 arrays — never |shingles| exploded rows."""
    arr = _doc_arrays(docs)
    pairs = _band_pairs(arr)
    m = _pair_members(arr, pairs)
    pa = m.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    pb = m.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    n_inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_inter / (F.size("hs_a") + F.size("hs_b") - n_inter)).alias("jaccard"),
        )
    )


def ngram_jaccard_sql() -> str:
    return f"""WITH {_int_pairs_cte().lstrip()},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM cand_pairs p
  JOIN shingles a ON a.doc_id = p.doc_a
  JOIN shingles b ON b.doc_id = p.doc_b AND b.sh_hash = a.sh_hash
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
         / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)) AS jaccard
FROM cand_pairs p
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


# --------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------

def dedup_chain(docs: DataFrame) -> DataFrame:
    """The end-to-end dedup suite sharing every intermediate ONCE:
    exact-hash dedup + (shingles -> MinHash signatures -> LSH bands ->
    candidate pairs -> estimated AND exact n-gram Jaccard).

    The standalone operators (minhash_pairs / ngram_jaccard) each
    materialize their own copy of the shared kernel so their oracles
    stay self-contained — composing them naively computes the array
    table twice and the pair list twice. At 10^12 docs that
    recomputation IS the bill, so the production chain materializes
    each exactly once (EAGER localCheckpoint: each materialization is
    its own fully-parallel job at a deterministic point — the lazy form
    materializes whenever AQE's .rdd access inside a downstream plan
    build first touches it, which made per-stage timings
    unattributable) and scores pairs with array expressions over it.

    Output: kind='exact' rows (a=doc_id, b=canonical_id,
    metric=group_size) unioned with kind='pair' rows (a=doc_a, b=doc_b,
    est_jaccard, metric=exact jaccard).
    """
    # hash every token ONCE and stay ARRAY-NATIVE end to end via the
    # shared kernel (_doc_arrays/_band_pairs/_pair_members — the same
    # three tables the standalone operators use; sharing them is the
    # whole point of the chain): per pair the scoring shuffle carries
    # 2 arrays, not 64+|shingles| exploded rows. Measured at sf0.1 x96,
    # local[8]: throughput +52% over the exploded-row chain and N->4N
    # 0.66 -> 0.77 (full decomposition in SCALING.md round-4 notes).
    arr = _doc_arrays(docs)
    pairs = _band_pairs(arr).localCheckpoint(eager=True)
    m = _pair_members(arr, pairs)
    pa = m.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("sig").alias("sig_a"),
    )
    pb = m.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("sig").alias("sig_b"),
    )
    n_inter = F.size(F.array_intersect("hs_a", "hs_b"))
    pair_rows = (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.lit("pair").alias("kind"),
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                / F.lit(NUM_PERMS)
            ).alias("est_jaccard"),
            (
                n_inter
                / (F.size("hs_a") + F.size("hs_b") - n_inter)
            ).alias("metric"),
        )
    )
    exact_rows = exact_dedup(docs).select(
        F.lit("exact").alias("kind"),
        F.col("doc_id").alias("a"),
        F.col("canonical_id").alias("b"),
        F.lit(None).cast("double").alias("est_jaccard"),
        F.col("group_size").cast("double").alias("metric"),
    )
    return exact_rows.unionByName(pair_rows)


def dedup_chain_sql() -> str:
    """Oracle for the composed chain: the same single CTE chain feeds
    exact dedup, the pair estimate and the exact Jaccard — mirroring
    how the Spark side shares the hash/signature arrays. Bands fold the
    chain's integer polynomial over the per-band minhashes in perm
    order (list_reduce seed = first element ≡ Spark's 0-init fold,
    since (0*B + x) % P = x)."""
    return f"""WITH {_int_pairs_cte().lstrip()},
est AS (
  SELECT p.doc_a, p.doc_b,
         CAST(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE)
           / {NUM_PERMS} AS est_jaccard
  FROM cand_pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.perm = sa.perm
  GROUP BY p.doc_a, p.doc_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM cand_pairs p
  JOIN shingles a ON a.doc_id = p.doc_a
  JOIN shingles b ON b.doc_id = p.doc_b AND b.sh_hash = a.sh_hash
  GROUP BY p.doc_a, p.doc_b
),
keyed AS (SELECT doc_id, MD5(text) AS text_hash FROM corpus),
grp AS (
  SELECT text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
  FROM keyed GROUP BY text_hash
)
SELECT 'exact' AS kind, k.doc_id AS a, g.canonical_id AS b,
       CAST(NULL AS DOUBLE) AS est_jaccard,
       CAST(g.group_size AS DOUBLE) AS metric
FROM keyed k JOIN grp g USING (text_hash)
UNION ALL
SELECT 'pair', p.doc_a, p.doc_b, e.est_jaccard,
       CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
         / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0))
FROM cand_pairs p
JOIN est e USING (doc_a, doc_b)
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc from token-occurrence counts.

    (doc, token, cnt) x 60 bit positions -> signed sums -> bit set iff
    sum > 0. All shuffles keyed by doc_id. 60 bits (the full md5-prefix
    width) rather than 32: the pair join's pigeonhole chunk key is
    SIMHASH_BITS/4 bits wide, and chunk-key cardinality is what divides
    the quadratic bucket density at corpus scale — 15-bit keys give
    128x fewer collisions per chunk than byte keys, and random 60-bit
    signatures essentially never sit within hamming 3 by accident."""
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("th", h60(F.col("tok")))
    )
    bits = toks.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))))
    signed = bits.withColumn(
        "contrib",
        F.when(F.expr("(th >> b) & 1") == 1, F.col("cnt")).otherwise(-F.col("cnt")),
    )
    per_bit = signed.groupBy("doc_id", "b").agg(F.sum("contrib").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << b")).otherwise(0)).alias(
            "simhash"
        )
    )


def _simhash_cte() -> str:
    return f"""
{CORPUS_CTE.lstrip()},
tokc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt, {_h60_sql('tok')} AS th
  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM corpus)
  GROUP BY doc_id, tok
),
per_bit AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (th >> b.b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
  FROM tokc, (SELECT UNNEST(RANGE(0, {SIMHASH_BITS})) AS b) b
  GROUP BY doc_id, b.b
),
sims AS (
  -- CAST: DuckDB SUM(BIGINT) yields HUGEINT (-> float64 in pandas);
  -- Spark returns int64 — the driver hash compares dtypes, so pin BIGINT.
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc_id
)"""


def simhash_table_sql() -> str:
    return "WITH " + _simhash_cte().lstrip() + " SELECT doc_id, simhash FROM sims"


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= 3 via pigeonhole banding:
    split the 60-bit signature into 4 15-bit chunks — any pair within
    distance 3 shares at least one chunk; join per chunk, then exact
    filter. 15-bit chunk keys (32768 values) keep per-bucket density —
    and with it the quadratic candidate blow-up — 128x below byte
    keys at any corpus size."""
    # materialize signatures before the self-join (as minhash_pairs
    # does): both aliases would otherwise recompute the md5-per-token
    # signature fold, the expensive part of the chain
    sig = simhash(docs).localCheckpoint(eager=False)
    chunked = sig.withColumn(
        "chunk", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_CHUNKS - 1)))
    ).withColumn(
        "ckey",
        F.expr(f"(simhash >> (chunk * {SIMHASH_CHUNK_W})) & {(1 << SIMHASH_CHUNK_W) - 1}"),
    )
    a = chunked.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "chunk", "ckey")
    b = chunked.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "chunk", "ckey")
    # hamming filters BEFORE the distinct: bit_count on two longs is
    # ~free per collision row, and filtering first means the distinct
    # shuffle carries only true near-dup pairs (a vanishing fraction of
    # band collisions) instead of every colliding chunk row
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def simhash_pairs_sql() -> str:
    return f"""WITH {_simhash_cte().lstrip()},
chunked AS (
  SELECT doc_id, simhash, c.c AS chunk,
         (simhash >> (c.c * {SIMHASH_CHUNK_W})) & {(1 << SIMHASH_CHUNK_W) - 1} AS ckey
  FROM sims, (SELECT UNNEST(RANGE(0, {SIMHASH_CHUNKS})) AS c) c
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       BIT_COUNT(xor(a.simhash, b.simhash)) AS hamming
FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.ckey = b.ckey
WHERE a.doc_id < b.doc_id
  AND BIT_COUNT(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


# --------------------------------------------------------------------
# perceptual-hash (image) near-duplicate pairs
# --------------------------------------------------------------------
#
# The image-payload twin of SimHash banding: two images are near-dups
# when hamming(phash_a, phash_b) <= PHASH_HAM_T. Pigeonhole over 5
# disjoint 12-13-bit chunks of the 64-bit phash: <= 4 differing bits
# guarantee at least one IDENTICAL chunk, so the (chunk index, value)
# equi-join finds every qualifying pair without an all-pairs scan —
# the same 100 TB shape as simhash_pairs. XOR + bit_count are exact
# integer ops in both engines.
#
# The synthetic phashes are multiplicative-hash-spread (min pairwise
# hamming >> threshold), so near-dups are planted deterministically:
# every PHASH_VSTRIDE-th image gets a copy with 3 low-position bits
# flipped (hamming <= 3).

PHASH_HAM_T = 4
# hamming <= 4 needs only 5 pigeonhole chunks (one is guaranteed
# intact), and FEWER, WIDER chunks are strictly better: per-chunk
# bucket density — the quadratic term of banded candidate generation —
# is corpus_size / key_cardinality, so 12-13-bit keys collide 16-32x
# less than bytes, and each image ships 5 band rows instead of 8.
# Output is invariant under the chunk partition (pigeonhole
# completeness + the exact hamming filter), so this is pure plan shape.
PHASH_CHUNKS = 5
_PHASH_OFFS = [0, 13, 26, 39, 52]   # disjoint cover of bits 0..63
_PHASH_WIDTHS = [13, 13, 13, 13, 12]
PHASH_VSTRIDE = 6
PHASH_VOFF = 3_000_000


def _phash_variant_bits(doc_col: Column) -> Column:
    """XOR mask with 3 deterministic bit positions in [0, 48) — below
    the sign bit, so the variant stays a positive BIGINT. (F.expr: the
    SQL shiftleft accepts a column bit count, the Python wrapper does
    not.)"""
    return F.expr(
        "shiftleft(1L, cast((doc_id * 7) % 48 AS int)) | "
        "shiftleft(1L, cast((doc_id * 13 + 5) % 48 AS int)) | "
        "shiftleft(1L, cast((doc_id * 29 + 11) % 48 AS int))"
    )


def phash_corpus(points: DataFrame) -> DataFrame:
    """(img_id, phash) — originals plus planted near-copies."""
    base = points.select(F.col("doc_id").alias("img_id"), "phash")
    var = points.filter(F.col("doc_id") % PHASH_VSTRIDE == 0).select(
        (F.col("doc_id") + PHASH_VOFF).alias("img_id"),
        F.col("phash").bitwiseXOR(_phash_variant_bits(F.col("doc_id"))).alias("phash"),
    )
    return base.unionByName(var)


def phash_neardup(points: DataFrame, ham_t: int = PHASH_HAM_T) -> DataFrame:
    """Near-duplicate image pairs by phash hamming distance via the
    pigeonhole chunk band join (5 x 12-13-bit chunks). Output:
    (a_id, b_id, hamming)."""
    corpus = phash_corpus(points)
    chunks = corpus.select(
        "img_id", "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        (
                            F.shiftright(F.col("phash"), _PHASH_OFFS[c])
                            .bitwiseAND(F.lit((1 << _PHASH_WIDTHS[c]) - 1))
                        ).alias("key"),
                    )
                    for c in range(PHASH_CHUNKS)
                ]
            )
        ).alias("b"),
    ).select("img_id", "phash", "b.chunk", "b.key")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = a.join(
        b,
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.img_id") < F.col("b.img_id")),
    ).select(
        F.col("a.img_id").alias("a_id"),
        F.col("b.img_id").alias("b_id"),
        F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).cast("long").alias("hamming"),
    )
    return cand.filter(F.col("hamming") <= ham_t).distinct()


def phash_neardup_sql(ham_t: int = PHASH_HAM_T) -> str:
    from .. import sqlgen

    chunk_rows = ", ".join(
        f"({c}, {_PHASH_OFFS[c]}, {(1 << _PHASH_WIDTHS[c]) - 1})"
        for c in range(PHASH_CHUNKS)
    )
    return f"""{sqlgen.with_ctes("points")},
corpus AS (
  SELECT doc_id AS img_id, phash FROM points
  UNION ALL
  SELECT doc_id + {PHASH_VOFF},
         xor(phash, (1::BIGINT << CAST((doc_id * 7) % 48 AS INT))
                  | (1::BIGINT << CAST((doc_id * 13 + 5) % 48 AS INT))
                  | (1::BIGINT << CAST((doc_id * 29 + 11) % 48 AS INT)))
  FROM points WHERE doc_id % {PHASH_VSTRIDE} = 0
),
chunks AS (
  SELECT img_id, phash, c.chunk, (phash >> c.off) & c.mask AS key
  FROM corpus, (VALUES {chunk_rows}) c(chunk, off, mask)
)
SELECT DISTINCT a.img_id AS a_id, b.img_id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk = b.chunk AND a.key = b.key AND a.img_id < b.img_id
WHERE bit_count(xor(a.phash, b.phash)) <= {ham_t}
"""


def neardup_clusters(pairs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Near-dup PAIRS -> duplicate CLUSTERS -> keep-one-representative:
    the reduction every training-data dedup actually ships (pairs alone
    don't tell you which rows to drop when duplicates chain A~B~C).

    Connected components over the sparse pair graph (min-img_id label,
    ``graph_ops.connected_components`` — O(log diameter) rounds, and
    dup-cluster diameters are tiny by construction of near-duplication),
    then ``keep`` marks the canonical minimum id of each cluster.

    100 TB shape: the pair graph is the banded join's output (near-dup
    edges only, never all-pairs), components shuffle on node id, and the
    keep flag is a column comparison — no driver-side state.

    Output: (img_id, cluster, keep).
    """
    from .graph_ops import connected_components

    # materialize the pair graph once: it is consumed three ways below
    # (adjacency, touched set, singleton anti-join) and its lineage is
    # the banded candidate join — the expensive part of the chain.
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).localCheckpoint(eager=True)
    nodes = corpus.select(F.col("img_id").alias("node_id"))
    # iterate ONLY over edge-incident nodes: in a near-dup graph the
    # touched set is a vanishing fraction of the corpus (the banded join
    # emits dup edges, not all-pairs), so every CC round shuffles the
    # dup graph instead of the whole table; untouched rows are their own
    # cluster by definition and rejoin as a single anti-join projection.
    touched = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    comp = connected_components(touched, edges).unionByName(
        nodes.join(touched, "node_id", "left_anti")
        .select("node_id", F.col("node_id").alias("label"))
    )
    return comp.select(
        F.col("node_id").alias("img_id"),
        F.col("label").alias("cluster"),
        (F.col("node_id") == F.col("label")).alias("keep"),
    )


def phash_clusters_sql(ham_t: int = PHASH_HAM_T) -> str:
    """``neardup_clusters`` over the phash pair graph as one DuckDB
    statement: the pair chain's CTEs, then an honest transitive-closure
    recursive CTE (same shape as the lifecycle_components oracle)."""
    pair_chain = phash_neardup_sql(ham_t)
    head, select = pair_chain.split("SELECT DISTINCT", 1)
    return f"""{head.rstrip()},
pairs AS (
  SELECT DISTINCT{select}),
und AS (
  SELECT a_id AS a, b_id AS b FROM pairs
  UNION
  SELECT b_id AS a, a_id AS b FROM pairs
),
reach AS (
  SELECT * FROM (
    WITH RECURSIVE r(img_id, root) AS (
      SELECT img_id, img_id FROM corpus
      UNION
      SELECT u.b, r.root FROM r JOIN und u ON u.a = r.img_id
    ) SELECT img_id, root FROM r
  )
)
SELECT img_id, MIN(root) AS cluster, img_id = MIN(root) AS keep
FROM reach GROUP BY img_id
"""


# --------------------------------------------------------------------
# corpus gate — the composed per-document keep/drop decision
# --------------------------------------------------------------------

GATE_MIN_QUALITY = 0.5
GATE_MIN_TOKENS = 5


def corpus_gate(docs: DataFrame) -> DataFrame:
    """The decision a training-data pipeline actually ships: one row per
    document with the composed keep/drop verdict — language identified
    (not 'und'), quality score and token count above floor, not an
    exact duplicate (min-doc_id canonical wins). Composes the REAL
    operators (lang_id, text_stats, md5 exact-dup) through two
    broadcast-sized joins keyed by doc_id; at 100 TB each input is a
    narrow projection of the same scan and the joins co-partition on
    the uniform doc_id key.

    Output: (doc_id, lang_guess, n_tokens, quality_score,
    is_exact_dup, keep)."""
    from ..functions import textstats

    lang = textstats.lang_id(docs).select("doc_id", "lang_guess")
    stats = textstats.text_stats(docs).select(
        "doc_id", "n_tokens", "quality_score"
    )
    keyed = docs.select("doc_id", F.md5("text").alias("h"))
    grp = keyed.groupBy("h").agg(F.min("doc_id").alias("canon"))
    dup = keyed.join(grp, "h").select(
        "doc_id", (F.col("doc_id") != F.col("canon")).alias("is_exact_dup")
    )
    g = lang.join(stats, "doc_id").join(dup, "doc_id")
    return g.select(
        "doc_id",
        "lang_guess",
        "n_tokens",
        "quality_score",
        "is_exact_dup",
        (
            (F.col("lang_guess") != "und")
            & (F.col("n_tokens") >= GATE_MIN_TOKENS)
            & (F.col("quality_score") >= GATE_MIN_QUALITY)
            & ~F.col("is_exact_dup")
        ).alias("keep"),
    )


def corpus_gate_sql() -> str:
    """Composed oracle: the lang/stats/dup derivations inlined over the
    documents view with the same thresholds."""
    from ..functions import textstats

    return f"""
WITH lang_t AS ({textstats.lang_id_sql()}),
stats_t AS ({textstats.text_stats_sql()}),
keyed AS (SELECT doc_id, MD5(text) AS h FROM documents),
grp AS (SELECT h, MIN(doc_id) AS canon FROM keyed GROUP BY h),
dup AS (SELECT k.doc_id, k.doc_id <> g.canon AS is_exact_dup
        FROM keyed k JOIN grp g USING (h))
SELECT l.doc_id, l.lang_guess, s.n_tokens, s.quality_score, d.is_exact_dup,
       (l.lang_guess <> 'und' AND s.n_tokens >= {GATE_MIN_TOKENS}
        AND s.quality_score >= {GATE_MIN_QUALITY} AND NOT d.is_exact_dup) AS keep
FROM lang_t l
JOIN stats_t s USING (doc_id)
JOIN dup d USING (doc_id)
"""
