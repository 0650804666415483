"""Output checks against the repo's DuckDB oracles
(``__spark_entry__.oracle_sql()``).

Expected results are computed once per (workload, seed), before any
repetition runs, and never inside a timed interval. Trips are
independent in the matching chain, so where an oracle does not fit the
run's time budget it runs on a seeded sample of whole trips (the
sample's documents only) and is compared with the engine's rows for the
same trips. Stages that no oracle covers (the lifecycle DP tail and the
GTFS sink) are checked by row-count invariants.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

SAMPLE_TRIPS = 16  # trips per sampled oracle check
VERIFY_JACCARD = 0.5  # exact Jaccard at which an LSH pair counts as verified
NEAR_DUP, EXACT_DUP = 1_000_000, 2_000_000  # datagen.dedup_corpus offsets


def sample_trips(seed: int, first_doc: int, n_docs: int) -> list[int]:
    trips = np.arange(first_doc // gen.TRIP_LEN, (first_doc + n_docs) // gen.TRIP_LEN)
    rng = np.random.default_rng([seed, 2])
    picked = rng.choice(trips, size=min(SAMPLE_TRIPS, len(trips)), replace=False)
    return sorted(int(t) for t in picked)


def _connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb_spill')}'")
    return con


def _run(con, docs: pa.Table, sql: str) -> pd.DataFrame:
    con.register("documents", docs)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.unregister("documents")


def expected(workload: str, sf_dir: str, seed: int, work_dir: str) -> dict:
    """Oracle frames for ``workload`` plus the sampled trip ids."""
    import __spark_entry__ as entry
    from pfaedle_spark import sqlgen

    oracle = entry.oracle_sql()
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    first = docs["doc_id"][0].as_py()
    trips = sample_trips(seed, first, docs.num_rows)
    sample = docs.filter(
        pc.is_in(pc.divide(docs["doc_id"], gen.TRIP_LEN), pa.array(trips, pa.int64()))
    )
    con = _connect(work_dir)
    exp: dict = {"trips": trips, "sample_docs": sample["doc_id"].to_pylist()}
    if workload in ("match", "match_corpus"):
        pts = sqlgen.with_ctes("points")
        exp["match"] = _run(con, sample, f"""{pts}
SELECT va.*, p.x, p.y, {sqlgen.cell_id('p.x', 'p.y')} AS cell_id
FROM ({oracle['viterbi_align']}) va JOIN points p USING (image_id)""")
    if workload in ("corpus", "match_corpus"):
        exp["dedup"] = _run(con, sample, oracle["dedup_chain"])
        exp["tiles"] = _run(con, docs, oracle["tile_pyramid"])
    if workload == "lifecycle":
        exp["graph_edges"] = _run(con, sample, oracle["lifecycle_graph"])
        exp["components"] = _run(con, sample, oracle["lifecycle_components"])
        exp["candidates"] = _run(con, sample, oracle["lifecycle_candidates"])
    con.close()
    return exp


# ----------------------------------------------------------------------
# comparison
# ----------------------------------------------------------------------

def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    """Order-insensitive comparison, floats to rtol 1e-9 (the rule of
    tools/drive_contract.py); returns mismatch descriptions."""
    missing = set(want.columns) - set(got.columns)
    if missing:
        return [f"{what}: missing columns {sorted(missing)}"]
    got, want = _norm(got[list(want.columns)]), _norm(want)
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, oracle has {len(want)}"]
    bad = []
    for c in want.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            ok = np.allclose(g.astype(float), w.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = g.astype(str).tolist() == w.astype(str).tolist()
        if not ok:
            bad.append(f"{what}: column {c} differs from the oracle")
    return bad


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _trip_rows(df: pd.DataFrame, trips: list[int]) -> pd.DataFrame:
    return df[df["trip_id"].isin([f"trip_{t}" for t in trips])]


def verify(workload: str, out_dir: str, exp: dict, n_docs: int) -> list[str]:
    """Mismatch descriptions for one repetition's sinks (empty: correct)."""
    if workload == "lifecycle":
        return _verify_lifecycle(out_dir, exp)
    bad = []
    if "match" in exp:
        got = _read(os.path.join(out_dir, "match"))
        bad += frames_equal(_trip_rows(got, exp["trips"]), exp["match"], "match")
        if got["image_id"].nunique() != len(got) or len(got) > n_docs:
            bad.append("match: not one row per matched image")
    if "dedup" in exp:
        bad += _verify_corpus(out_dir, exp)
    return bad


def _verify_lifecycle(root: str, exp: dict) -> list[str]:
    st = {s: _read(os.path.join(root, s)) for s in
          ("graph_edges", "components", "candidates", "viterbi", "shapes", "gtfs_shapes")}
    bad = frames_equal(st["graph_edges"], exp["graph_edges"], "lifecycle graph_edges")
    bad += frames_equal(st["components"], exp["components"], "lifecycle components")
    bad += frames_equal(_trip_rows(st["candidates"], exp["trips"]), exp["candidates"],
                        "lifecycle candidates")
    # DP tail: no oracle; one aligned row per observed (trip, seq), a
    # shape for every aligned trip, and the sink carries every shape row
    layers = st["candidates"][["trip_id", "seq"]].drop_duplicates()
    if len(st["viterbi"]) != len(layers):
        bad.append(f"lifecycle viterbi: {len(st['viterbi'])} rows for {len(layers)} layers")
    if set(st["shapes"]["trip_id"]) != set(st["viterbi"]["trip_id"]):
        bad.append("lifecycle shapes: trip set differs from the aligned trips")
    if len(st["gtfs_shapes"]) != len(st["shapes"]):
        bad.append("lifecycle gtfs_shapes: row count differs from shapes")
    with open(os.path.join(root, "feed", "shapes.txt")) as fh:
        n_csv = sum(1 for _ in fh) - 1
    if n_csv != len(st["gtfs_shapes"]):
        bad.append(f"lifecycle feed shapes.txt: {n_csv} rows, stage has {len(st['gtfs_shapes'])}")
    return bad


def _verify_corpus(out_dir: str, exp: dict) -> list[str]:
    got = _read(os.path.join(out_dir, "dedup"))
    base = np.asarray(exp["sample_docs"], dtype=np.int64)
    corpus = set(base) | set(base[base % 5 == 0] + NEAR_DUP) | set(base[base % 7 == 0] + EXACT_DUP)
    in_a, in_b = got["a"].isin(corpus), got["b"].isin(corpus)
    mine = got[in_a & ((got["kind"] == "exact") | in_b)]
    bad = frames_equal(mine, exp["dedup"], "corpus dedup_chain")
    bad += frames_equal(_read(os.path.join(out_dir, "tiles")), exp["tiles"], "corpus tile_pyramid")
    return bad


def lsh_precision(out_dir: str) -> float:
    """Share of LSH candidate pairs whose exact Jaccard reaches
    VERIFY_JACCARD."""
    pairs = _read(os.path.join(out_dir, "dedup")).query("kind == 'pair'")
    return float((pairs["metric"] >= VERIFY_JACCARD).mean()) if len(pairs) else 0.0
