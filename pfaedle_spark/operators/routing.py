"""R1-R10 — the routing/alignment query engine.

Reference:
* R1/R2 Dijkstra / edge-Dijkstra — ``util/graph/Dijkstra.h:118-304``,
  ``util/graph/EDijkstra.h:190-418`` (PQ ordered by (h, d), tie-broken
  deterministically). Both are ONE label-setting loop here,
  :func:`search`, over ONE CSR layout, :func:`build_csr`: node graphs
  and edge-state graphs (edge_routing) differ only in their state ids.
* R4 A* heuristic (:func:`heuristic`) and R5 hop band (``search``'s
  ``band``).
* R3 cost function — per-meter level punish
  (``router/router.cpp:53-117``; defaults ``pfaedle.cfg:377-419``).
* R6 N×M hop matrix + component-infinity shortcut (``router.cpp:580-624``,
  ``:598-599``).
* R7 layered Viterbi global solve (``router.cpp:408-549``) — source →
  candidate layers → sink; optimum == HMM/Viterbi on candidate states.
* R10 path → geometry assembly (``shape_builder.cpp:80-119``).

Spark strategy: every per-key Python site (the DPs here and in
edge_routing, the eval metrics, station grouping) runs through ONE
grouped runner, :func:`bucketed_apply`: hash buckets of keys — the
trip axis the reference parallelizes with OpenMP
(``shape_builder.cpp:234``) — sorted by key and streamed to the kernel
one Arrow batch at a time, cut at key boundaries, so a kernel call
holds at most one batch plus one key. Both Viterbi DPs run ONE layered
driver, :func:`layered_viterbi`, over a run's (layer, slot) grid
(:func:`_layer_grid`), every key of the run at once; only the layer
step differs: a hop-table gather over node states here, one seeded,
banded :func:`search` per fingerprint over directed-edge states in
``edge_routing.state_viterbi_batch``. Every source-to-targets
shortest path is a gather from the frontier Bellman-Ford
:func:`hop_table`: all rows, built once on the driver and broadcast
(:func:`hop_broadcast`, in place of the reference's per-thread route
cache; 8 MiB for the grid's 1,024 nodes, as graph size scales with
geography), or only the rows of a run's sources
(:func:`hop_lookup` with ``sources``) — per component in
:func:`hop_shortest_paths_cogrouped`, whose hops and edges meet in a
component-keyed cogroup instead of a broadcast, and over the
edge-state CSR in ``edge_routing.restricted_paths``.

Two shortest-path kernels stay, because each wins its own shape:
:func:`hop_table` fills row tables, the label-setting A* :func:`search`
settles a few targets from many DP-seeded sources under the band (and
captures paths). An edge-state step over dp-seeded hop-table rows, one
row per live seed with the band as a pairwise mask, gave identical DP
rows and walks but cost more edge-state DP CPU (4 cores): 0.55 s ->
1.3 s on the 512-image lifecycle input, and 1.6 s -> 5.3 s with a
segment break that routes every layer.
"""

from __future__ import annotations

import heapq
import math
import threading
from collections import OrderedDict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from .. import motconfig as _MC
from .graph_ops import component_labels

# R3 config weights (pfaedle.cfg:377-419 semantics; field names mirror
# routing_options, router/misc.h:35-50), parsed from the shipped MOT
# config (S8), not hard-coded. The R5 band reads them here; the edge
# transition costs in edge_routing share the same object.
OPTS = _MC.load("rail").routing_opts()


def dp_partitions(spark) -> int:
    """Bucket count for the grouped-DP stages: the session's FIXED
    shuffle-partition setting (floored at 2x the core count for wide
    hosts). Deriving it from defaultParallelism alone made the bucket
    count scale with cores, so a bigger executor count paid
    proportionally MORE per-group Arrow constants for the same data —
    measured as a scaling-efficiency leak on the 2->8 pinned lifecycle
    pair. A cores-independent count keeps per-group overhead constant
    across cluster sizes, which is also how a real job behaves
    (spark.sql.shuffle.partitions is a job setting, not a cluster
    property)."""
    fixed = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(fixed, spark.sparkContext.defaultParallelism * 2)


def key_runs(frames: Iterator[pd.DataFrame], key: str) -> Iterator[pd.DataFrame]:
    """Re-cut a stream of frames sorted by ``key`` into frames of
    complete keys. A batch's last key may go on in the next batch, so
    it is carried there; every other key of the batch is complete. A
    frame out holds at most one batch plus one key. A key that comes
    back after its run has ended (keys out of order) raises
    ``ValueError``: the runner's sort is what makes runs complete."""
    carry: list[pd.DataFrame] = []
    last = None
    for pdf in frames:
        if not len(pdf):
            continue
        keys = pdf[key].to_numpy()
        starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        heads = keys[np.concatenate([[0], starts])]
        if (carry and heads[0] < last) or (heads[1:] <= heads[:-1]).any():
            raise ValueError(f"key {key!r} is not contiguous: a run came back after it ended")
        tail = int(starts[-1]) if len(starts) else 0
        if carry and tail == 0 and heads[0] == last:
            carry.append(pdf)  # the carried key goes on through this batch
        else:
            done = carry + [pdf.iloc[:tail]] if tail else carry
            if done:
                yield pd.concat(done, ignore_index=True)
            carry = [pdf.iloc[tail:]]
        last = keys[-1]
    if carry:
        yield pd.concat(carry, ignore_index=True)


def key_frames(pdf: pd.DataFrame, key: str) -> Iterator[pd.DataFrame]:
    """The rows of each key of a key-contiguous frame (every frame
    :func:`bucketed_apply` hands its kernel), in order."""
    keys = pdf[key].to_numpy()
    cuts = np.concatenate([[0], np.flatnonzero(keys[1:] != keys[:-1]) + 1, [len(keys)]])
    for a, b in zip(cuts[:-1], cuts[1:]):
        yield pdf.iloc[a:b]


def per_key(fn, key: str):
    """A frame kernel for :func:`bucketed_apply` from a per-key one:
    ``fn`` on each key's rows, the outputs concatenated."""
    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = [out for out in map(fn, key_frames(pdf, key)) if len(out)]
        return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()

    return solve


def bucketed_apply(df: DataFrame, key: str, solve, schema: str) -> DataFrame:
    """The grouped runner: ``solve`` over runs of complete ``key``
    groups, each run at most one Arrow batch plus one key.

    Keys hash into :func:`dp_partitions` buckets. An explicit
    repartition by bucket is never coalesced by AQE (it would collapse
    this tiny-by-bytes but CPU-heavy stage onto one task), and its
    hash partitioning satisfies the grouping, so no second shuffle
    follows. The sort by (bucket, key) satisfies the grouping's order,
    so it is the stage's only sort, and it makes each key's rows
    contiguous. ``run`` is typed ``Iterator[pd.DataFrame] ->
    Iterator[pd.DataFrame]``, so PySpark streams each bucket batch by
    batch instead of building one pandas frame per bucket;
    :func:`key_runs` cuts the stream at key boundaries. The frames
    ``solve`` gets also carry the ``_bucket`` column, which it ignores;
    one call amortizes the per-call pandas constant over many keys."""
    n = dp_partitions(df.sparkSession)

    # PySpark reads these hints with get_type_hints against this
    # module's globals (``Iterator``, ``pd``); if that failed it would
    # fall back to one frame per bucket without a word
    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in key_runs(frames, key):
            out = solve(pdf)
            if len(out):
                yield out

    return (
        df.withColumn("_bucket", F.pmod(F.hash(key), F.lit(n)))
        .repartition(n, "_bucket")
        .sortWithinPartitions("_bucket", key)
        .groupBy("_bucket")
        .applyInPandas(run, schema=schema)
    )


# ---------------------------------------------------------------------------
# graph representation: CSR adjacency over flat numpy arrays
# ---------------------------------------------------------------------------

def build_csr(frm, to, cost, ends=None, states=None) -> dict:
    """Directed CSR adjacency over integer state ids — the one layout
    behind node routing (states = node ids) and edge-state routing
    (states = directed edge ids).

    ``states`` is the sorted probe array that maps a state id to its
    index (``np.searchsorted``); node graphs pass ``np.arange(n)`` so a
    node id is its own index, edge-state graphs default to the distinct
    ids. Arcs are ordered by (from, to) index, ties stable. ``ends`` =
    (fx, fy, tx, ty), the coordinates of each arc's from/to state, are
    kept as ``xy``: the R5 band's straight-line span always reads them,
    the A* heuristic (R4) only when they pass the admissibility gate."""
    frm, to = np.asarray(frm, np.int64), np.asarray(to, np.int64)
    cost = np.asarray(cost, np.float64)
    if states is None:
        states = np.unique(np.concatenate([frm, to]))
    fi, ti = np.searchsorted(states, frm), np.searchsorted(states, to)
    order = np.lexsort((ti, fi))
    n = len(states)
    indptr = np.concatenate([[0], np.cumsum(np.bincount(fi, minlength=n))])
    # weak-component labels: the reference's component-infinity shortcut
    # (router.cpp:598-599) — a cross-component target is +inf WITHOUT
    # exploring the whole component first.
    csr = {
        "indptr": indptr, "dst": ti[order], "cost": cost[order],
        "states": states, "comp": component_labels(fi, ti, n),
    }
    if ends is not None:
        xy = np.full((n, 2), np.nan)
        xy[fi, 0], xy[fi, 1] = ends[0], ends[1]
        xy[ti, 0], xy[ti, 1] = ends[2], ends[3]
        csr["xy"] = xy
        csr["astar"] = _heuristic_admissible(csr, xy)  # else: plain Dijkstra (exact, unpruned)
    return csr


def node_csr(edges_pdf: pd.DataFrame, level_punish: bool = True) -> dict:
    """Node-graph CSR from an edge list (after write_odir_edges, so
    oneway is already honored by the reverse-copy pass).

    cost = length * LEVEL_PUNISH[level]  (R3, router.cpp:53-117). The
    heuristic is admissible because cost >= length >= straight-line
    distance (min LEVEL_PUNISH factor is 1.0)."""
    src = edges_pdf["src"].to_numpy(np.int64)
    dst = edges_pdf["dst"].to_numpy(np.int64)
    cost = edges_pdf["length"].to_numpy(np.float64)
    if level_punish:
        cost = cost * np.array(C.LEVEL_PUNISH)[edges_pdf["level"].to_numpy(np.int64)]
    ends = None
    if {"x1", "y1", "x2", "y2"} <= set(edges_pdf.columns):
        ends = [edges_pdf[c].to_numpy(np.float64) for c in ("x1", "y1", "x2", "y2")]
    n = int(max(src.max(), dst.max())) + 1 if len(src) else 0
    return build_csr(src, dst, cost, ends, states=np.arange(n))


def _heuristic_admissible(csr: dict, xy: np.ndarray) -> bool:
    """A* exactness needs cost(u->v) >= straight-line |u - v| for EVERY
    arc — true for the shipped config (all level factors >= 1, punish
    terms >= 0) but silently broken by an editable config with a factor
    < 1. Check the invariant on the data itself (one vectorized pass)
    instead of trusting config semantics; on violation :func:`heuristic`
    is off and every search degrades to exact Dijkstra."""
    u, indptr = csr["dst"], csr["indptr"]
    src_of = np.repeat(np.arange(len(indptr) - 1), np.diff(indptr))
    d = xy[u] - xy[src_of]
    disp = np.sqrt(d[:, 0] ** 2 + d[:, 1] ** 2)
    with np.errstate(invalid="ignore"):
        bad = csr["cost"] + 1e-6 < disp  # NaN coords compare False: admissible (h=0)
    return not bool(bad.any())


def index_of(csr: dict, ids) -> np.ndarray:
    """Indices of state ids in ``csr["states"]``; -1 where absent (a
    state with no transitions is never reached)."""
    states = csr["states"]
    ids = np.asarray(ids, dtype=np.int64)
    i = np.searchsorted(states, ids)
    hit = i < len(states)
    hit[hit] = states[i[hit]] == ids[hit]
    return np.where(hit, i, -1)


def reachable(csr: dict, seeds, targets) -> frozenset:
    """R6 component shortcut (router.cpp:598-599): the target indices
    that share a weak component with a live seed. The rest are +inf by
    construction — dropping them up front keeps the early exit firing
    instead of sweeping the reachable graph."""
    comp = csr["comp"]
    live = {int(comp[i]) for i, c in seeds if i >= 0 and math.isfinite(c)}
    return frozenset(int(t) for t in targets if t >= 0 and int(comp[t]) in live)


def heuristic(csr: dict, targets: frozenset):
    """R4 A* table over every state: min straight-line distance to any
    target (reference DistHeur, ``router/router.h`` /
    ``router.cpp:119-145``). Admissible and consistent, so popped ==
    settled exactly like Dijkstra; NaN coords give 0. One vectorized
    pass per call (every seed of a DP layer shares it). None without
    coords or when they fail the admissibility gate."""
    if not csr.get("astar") or not targets:
        return None
    xy = csr["xy"]
    txy = xy[np.fromiter(targets, dtype=np.int64)]
    dx = xy[:, 0:1] - txy[None, :, 0].reshape(1, -1)
    dy = xy[:, 1:2] - txy[None, :, 1].reshape(1, -1)
    return np.nan_to_num(np.sqrt(dx * dx + dy * dy), nan=0.0).min(axis=1)


def search(csr: dict, seeds, targets, harr, *, preds: bool = False, band=False):
    """The label-setting search (R1/R2 Dijkstra, R4 A*, R5 hop band) in
    index space — reference ``Dijkstra.h:118-304`` / ``EDijkstra.h:
    190-418``: one PQ ordered by (h, d) with deterministic tie-breaks.

    ``seeds`` are (index, start cost) pairs; a seed's list position is
    its ordinal, and a seed with index < 0 or a non-finite cost is dead.
    Seeding the heap with the costs makes a settled state carry
    min_i(cost_i + dist(i -> state)) — the min-plus product a Viterbi
    layer needs — from one combined frontier instead of |seeds|
    searches. The search stops once every index in ``targets`` has
    settled (``None``: settle everything reachable). ``harr`` is the
    :func:`heuristic` table or None (plain Dijkstra).

    Heap entries are (f, g, index, tag): ``states`` is sorted, so index
    order is state-id order, and ties break on (cost, state id, tag).
    The tag is the seed ordinal, or with ``preds`` the predecessor index
    (-1 at a seed). Returns ({index: cost}, {index: tag}) over the
    settled states.

    ``band=True`` applies the R5 hop band (router::getHopBand,
    router.cpp:229-306): once the pilot (the first settled target,
    reusing THIS search) fixes the min hop cost c0, hops are capped at
    max(c0, pend*levelPunish[2])*3 + turn + station pens, where pend is
    the max straight-line seed->target distance. A float ``band`` is a
    hop cap fixed up front (the repair pass below)."""
    indptr, dsts, cost = csr["indptr"], csr["dst"], csr["cost"]
    dp = [c for _, c in seeds]
    live = [(o, i, c) for o, (i, c) in enumerate(seeds) if i >= 0 and math.isfinite(c)]
    remaining = set(targets) if targets is not None else None
    dist: dict[int, float] = {}
    tags: dict[int, int] = {}
    if remaining is not None and not remaining:
        return dist, tags
    pq = [(c + (float(harr[i]) if harr is not None else 0.0), c, i, -1 if preds else o)
          for o, i, c in live]
    heapq.heapify(pq)
    # The band is on the PURE HOP cost (g minus the entry's seed cost),
    # as the reference bands each pairwise hop — not on the combined DP
    # total. Settle-once keys states by min TOTAL, so a low-cost seed
    # can settle a shared transit state first and then get band-pruned
    # en route, shadowing an in-band higher-cost seed. Expansion
    # therefore prunes at cap + spread (the seeds' cost spread): if pair
    # (B, T) is strictly in-band, every state x on B's shortest path
    # settles at total <= dp_B + hop_B(x), so its settling seed s has
    # hop(x) <= spread + cap — never pruned — and T receives a delivery
    # with total <= dp_B + hop_B(T). A target RESOLVES only on a strictly
    # in-band first settle (its value is then the pairwise banded min);
    # one settled only out of band is a suspect for the exact repair.
    cap = relax = None if isinstance(band, bool) else float(band)
    pend = spread = 0.0
    if band is True and live and remaining:
        spread = max(c for _, _, c in live) - min(c for _, _, c in live)
        xy = csr.get("xy")
        if xy is not None:
            sxy = xy[[i for _, i, _ in live]]
            txy = xy[np.fromiter(remaining, dtype=np.int64)]
            dx = sxy[:, 0:1] - txy[None, :, 0].reshape(1, -1)
            dy = sxy[:, 1:2] - txy[None, :, 1].reshape(1, -1)
            pend = float(np.nan_to_num(np.sqrt(dx * dx + dy * dy), nan=0.0).max())
    suspects: set[int] = set()
    while pq:
        _, g, u, tag = heapq.heappop(pq)
        if u in dist:
            continue
        if relax is not None and g - dp[tag] > relax:
            continue  # beyond the band for EVERY seed => truly inf
        dist[u] = g
        tags[u] = tag
        if remaining is not None and u in remaining:
            remaining.discard(u)
            if cap is not None and g - dp[tag] > cap:
                suspects.add(u)  # pairwise-banded value uncertain
            if not remaining:
                break
            if band is True and cap is None:
                cap = max(g - dp[tag], pend * OPTS["level_punish"][2]) * 3.0 + \
                    OPTS["full_turn_punish"] + OPTS["pass_thru_station_punish"]
                relax = cap + spread
        nxt = u if preds else tag
        for j in range(indptr[u], indptr[u + 1]):
            v = int(dsts[j])
            if v not in dist:
                g2 = g + float(cost[j])
                if relax is not None and g2 - dp[tag] > relax:
                    continue  # prune pushes beyond every seed's hop band
                hv = float(harr[v]) if harr is not None else 0.0
                heapq.heappush(pq, (g2 + hv, g2, v, nxt))
    if suspects:
        best = _pairwise_repair(csr, live, suspects, cap, harr)
        for t in suspects:
            if t in best:
                dist[t], tags[t] = best[t]
            else:
                del dist[t]  # no strictly in-band pair => inf
    return dist, tags


def _pairwise_repair(csr: dict, live, suspects: set, cap: float, harr) -> dict:
    """Exact pairwise-banded repair for the targets the combined search
    could not resolve strictly in band — the reference's N x M
    granularity (router.cpp:626-688): each live seed searched alone
    under the strict hop cap. Returns {target: (total, ordinal)}, the
    min (total, ordinal) over in-band pairs; a target no pair reaches in
    band is absent (inf)."""
    best: dict[int, tuple[float, int]] = {}
    for o, i, c in live:
        d1, _ = search(csr, [(i, c)], suspects, harr, band=cap)
        for t in suspects & d1.keys():
            if t not in best or d1[t] < best[t][0]:
                best[t] = (d1[t], o)
    return best


# R6/R9 hop table (reference ``router::cache``/``getCachedHops``,
# ``router.cpp:626-688``, a per-THREAD cache there): ONE dense table per
# (session, edge plan, level_punish), built on the driver and broadcast.
# Same budget as the OSM shard guard (sources/osm.py): a graph whose
# table would not fit fails on the driver before anything is broadcast.
_HOP_TABLE_MAX_BYTES = 256 << 20


def session_token(spark) -> str:
    """A per-SparkSession key that cannot alias across sessions the way
    ``id(spark)`` can (a new session allocated at a freed session's
    address would be handed a broadcast from a *stopped* SparkContext).
    applicationId + startTime is unique per context lifetime."""
    sc = spark.sparkContext
    return f"{sc.applicationId}:{sc.startTime}"


# the one driver-side memo: graph collects, hop tables, transition
# tables, the composed road graph and eager-checkpointed shares, each
# a deterministic function of (session, key)
_SESSION_MEMO: OrderedDict = OrderedDict()
_SESSION_MEMO_MAX = 16
_SESSION_MEMO_LOCK = threading.Lock()


def session_memo(spark, key: tuple, build):
    """``build()`` memoized per (session, ``key``), so its consumers run
    it once per session. ``key`` starts with a name for what is built.
    The memo holds at most ``_SESSION_MEMO_MAX`` values and drops the
    least recently used one beyond that; a dropped value is built again
    on its next use. ``build`` runs outside the lock, so concurrent
    stages (and nested memo calls) never wait on each other's jobs."""
    key = (session_token(spark), *key)
    with _SESSION_MEMO_LOCK:
        if key in _SESSION_MEMO:
            _SESSION_MEMO.move_to_end(key)
            return _SESSION_MEMO[key]
    out = build()
    with _SESSION_MEMO_LOCK:
        _SESSION_MEMO[key] = out
        while len(_SESSION_MEMO) > _SESSION_MEMO_MAX:
            _SESSION_MEMO.popitem(last=False)
    return out


def checkpoint_memo(spark, key: tuple, build) -> DataFrame:
    """``build()`` behind an eager localCheckpoint, in the
    :func:`session_memo`. Dropping the reference is all eviction can
    do: ``unpersist()`` does not release localCheckpoint blocks; the
    ContextCleaner frees them once no frame references the
    checkpointed RDD."""
    return session_memo(spark, key, lambda: build().localCheckpoint(eager=True))


def hop_table(csr: dict, rows=None) -> np.ndarray:
    """R6 hop costs: ``H[r, j]`` = shortest-path cost from state index
    ``rows[r]`` to state index j (float64, +inf where unreachable).
    ``rows=None`` is every state in index order (all pairs); otherwise
    the table has ``len(rows)`` rows, one per entry (repeats included),
    and every entry must be a valid index.

    Frontier Bellman-Ford: relax the out-arcs of the (row, node) pairs
    improved last round, keep the minimum per (row, node) and write only
    improvements, until none is left. Bit-exact with :func:`search` for
    any non-negative costs: round-to-nearest is monotone, so both equal
    the min over paths of the left-to-right arc-cost sum."""
    indptr, dsts, cost = csr["indptr"], csr["dst"], csr["cost"]
    n = len(indptr) - 1
    rows = np.arange(n) if rows is None else np.asarray(rows, dtype=np.int64)
    hop = np.full((len(rows), n), np.inf)
    flat = hop.reshape(-1)  # a view: pair (row r, node) is key r * n + node
    key = np.arange(len(rows)) * n + rows
    flat[key] = 0.0
    deg = np.diff(indptr)
    while len(key):
        node = key % n
        cnt = deg[node]
        ends = np.cumsum(cnt)
        arc = np.repeat(indptr[node] - ends + cnt, cnt) + np.arange(ends[-1])
        k = np.repeat(key - node, cnt) + dsts[arc]
        c = np.repeat(flat[key], cnt) + cost[arc]
        better = c < flat[k]
        order = np.lexsort((c[better], k[better]))  # min cost first per key
        k, c = k[better][order], c[better][order]
        first = np.ones(len(k), dtype=bool)
        first[1:] = k[1:] != k[:-1]
        key = k[first]
        flat[key] = c[first]
    return hop


def hop_lookup(csr: dict, sources=None) -> dict:
    """The gather source of :func:`hop_costs`: :func:`hop_table` over
    every state (``sources=None``: the node-state DPs index ``H`` with
    :func:`index_of` on both axes), or over the distinct ``sources``
    state ids of the graph only, plus an +inf row and column that an id
    not in the table (index -1) reads."""
    out = {"states": csr["states"]}
    rows = None
    if sources is not None:
        ids = np.unique(np.asarray(sources, dtype=np.int64))
        rows = index_of(csr, ids)
        out["sources"], rows = ids[rows >= 0], rows[rows >= 0]
    out["H"] = np.pad(hop_table(csr, rows), ((0, 1), (0, 1)), constant_values=np.inf)
    return out


def hop_costs(hop: dict, frm, to) -> np.ndarray:
    """Hop cost per (``frm``, ``to``) state-id pair from a
    :func:`hop_lookup`; +inf where unreachable or either id is not in
    the table."""
    rows = {"states": hop.get("sources", hop["states"])}
    return hop["H"][index_of(rows, frm), index_of(hop, to)]


def hop_broadcast(spark, edges: DataFrame, level_punish: bool = True):
    """ONE edge collect, :func:`hop_table` build and broadcast per
    (session, edge plan, level_punish), in the :func:`session_memo` — a
    re-collect per query is serial driver time that does not shrink
    with cluster size. The value is :func:`hop_lookup`; a graph whose
    table exceeds ``_HOP_TABLE_MAX_BYTES`` raises before anything is
    broadcast."""
    def build():
        pdf = edges.select("src", "dst", "length", "level").toPandas()
        csr = node_csr(pdf, level_punish=level_punish)
        n = len(csr["states"])
        if n * n * 8 > _HOP_TABLE_MAX_BYTES:
            raise ValueError(f"hop table for |V| = {n:,} nodes needs {n * n * 8:,} "
                             f"bytes, over the {_HOP_TABLE_MAX_BYTES:,}-byte budget")
        return spark.sparkContext.broadcast(hop_lookup(csr))

    return session_memo(spark, ("hop_table", edges.semanticHash(), level_punish), build)


# ---------------------------------------------------------------------------
# batched node-state DPs: every trip of a bucket in one numpy layer loop
# ---------------------------------------------------------------------------

_ALIGN_SCHEMA = (
    "trip_id string, seq long, image_id string, edge_id long, cand_node long, "
    "emission double, acc_cost double"
)
_DEBUG_SCHEMA = _ALIGN_SCHEMA + ", chosen boolean"
_DP_COLS = ["trip_id", "seq", "image_id", "edge_id", "cand_node", "dist"]


def _layer_grid(pdf: pd.DataFrame, key: str, state: str, em) -> dict:
    """Candidate rows of many ``key`` groups (trips or fingerprints), any
    row order, laid out for the layered DPs. Rows sort by (key, seq,
    state), ties in input order — so every argmin's first-minimum
    tie-break is the smaller state — and each (key, seq) layer becomes
    one row of a (layer, slot) grid padded to the widest layer. ``em``
    is the emission of each row of ``pdf``; padding slots hold em =
    +inf, so their costs stay +inf and the first-minimum argmin never
    picks one over a real slot. A key's layers are consecutive grid
    rows, ``n_lay`` of them from ``first`` on; layer l holds ``width[l]``
    real slots."""
    k = pd.factorize(pdf[key], sort=True)[0]
    seq = pdf["seq"].to_numpy(np.int64)
    order = np.lexsort((pdf[state].to_numpy(np.int64), seq, k))
    k, seq = k[order], seq[order]
    new_lay = np.ones(len(order), dtype=bool)
    new_lay[1:] = (k[1:] != k[:-1]) | (seq[1:] != seq[:-1])
    lay = np.cumsum(new_lay) - 1
    lay_start = np.flatnonzero(new_lay)
    slot = np.arange(len(order)) - lay_start[lay]
    first = np.flatnonzero(np.diff(k[lay_start], prepend=-1))  # codes are >= 0
    g = {
        "rows": pdf.iloc[order].reset_index(drop=True),
        "lay": lay, "slot": slot, "lay_start": lay_start,
        "width": np.diff(np.append(lay_start, len(order))),
        "first": first, "n_lay": np.diff(np.append(first, len(lay_start))),
        "shape": (len(lay_start), int(slot.max()) + 1),
    }
    g["em"] = on_grid(g, np.asarray(em, np.float64)[order], np.inf)
    return g


def on_grid(g: dict, values, fill) -> np.ndarray:
    """``values`` of the grid's sorted rows (``g["rows"]`` order) as a
    (layer, slot) array, ``fill`` in the padding slots."""
    values = np.asarray(values)
    out = np.full(g["shape"], fill, dtype=values.dtype)
    out[g["lay"], g["slot"]] = values
    return out


def _steps(g: dict):
    """(previous, current) grid rows of every key still active at each
    layer step t >= 1."""
    for t in range(1, int(g["n_lay"].max())):
        cur = g["first"][g["n_lay"] > t] + t
        yield cur - 1, cur


def layered_viterbi(g: dict, step, cols: list, debug: bool = False) -> pd.DataFrame:
    """R7 forward DP + backtrack over a :func:`_layer_grid`, whatever
    the state type: layer 0 costs its emission, and each later layer is
    ``dp[cur], back[cur] = step(g, dp, prev, cur)`` for the grid rows of
    every key still active — ``back`` is the previous layer's winning
    slot. The backtrack starts at each key's first-minimum last-layer
    slot. Output: ``cols`` of the chosen row of every layer, sorted by
    (key, seq), with its ``emission`` and ``acc_cost``; with ``debug``,
    the ``pfaedle -T``-style surface instead: EVERY state of every layer
    with its forward-DP cost, and ``chosen`` marking the backtracked
    path (== the default output)."""
    em = g["em"]
    dp = em.copy()
    back = np.zeros(em.shape, dtype=np.int64)
    for prev, cur in _steps(g):
        dp[cur], back[cur] = step(g, dp, prev, cur)
    last = g["first"] + g["n_lay"] - 1
    choice = np.zeros(len(em), dtype=np.int64)
    choice[last] = np.argmin(dp[last], axis=1)
    for prev, cur in reversed(list(_steps(g))):
        choice[prev] = back[cur, choice[cur]]

    out = g["rows"][cols]
    if debug:
        out = out.assign(emission=em[g["lay"], g["slot"]], acc_cost=dp[g["lay"], g["slot"]])
        out["chosen"] = g["slot"] == choice[g["lay"]]
        return out
    rows = np.arange(len(em))
    out = out.iloc[g["lay_start"] + choice].reset_index(drop=True)
    out["emission"] = em[rows, choice]
    out["acc_cost"] = dp[rows, choice]
    return out


def _node_grid(pdf: pd.DataFrame, hops: dict) -> dict:
    """:func:`_layer_grid` of node-state candidate rows: trips, states
    ordered by edge_id, emission ``dist * CAND_PEN_FAC`` (A5), plus
    ``ni``, each slot's hop-table index (-1 for padding and for nodes
    missing from the graph)."""
    g = _layer_grid(pdf, "trip_id", "edge_id", pdf["dist"].to_numpy(np.float64) * C.CAND_PEN_FAC)
    g["ni"] = on_grid(g, index_of(hops, g["rows"]["cand_node"].to_numpy(np.int64)), -1)
    return g


def viterbi_batch(pdf: pd.DataFrame, hops: dict, debug: bool = False) -> pd.DataFrame:
    """R7 over node states for every trip of ``pdf`` at once: the
    :func:`layered_viterbi` step is ``total = (dp + hop) + emission``
    with ``hop`` the gather ``H[ni[prev]][:, ni[cur]]`` and np.argmin's
    first minimum. Rows come out sorted by (trip_id, seq[, edge_id]);
    see :func:`viterbi_align` for the two output surfaces."""
    g = _node_grid(pdf, hops)
    em, ni, hop = g["em"], g["ni"], hops["H"]

    def step(g, dp, prev, cur):
        total = (dp[prev][:, :, None] + hop[ni[prev][:, :, None], ni[cur][:, None, :]]) \
            + em[cur][:, None, :]
        best = np.argmin(total, axis=1)
        return np.take_along_axis(total, best[:, None, :], axis=1)[:, 0, :], best

    return layered_viterbi(g, step, _DP_COLS[:-1], debug)


def greedy2_batch(pdf: pd.DataFrame, hops: dict) -> pd.DataFrame:
    """R8 routeGreedy2 for every trip of ``pdf`` at once: layer 0 takes
    its min-emission slot, each later layer argmin(``emission + hop``
    from the previous choice), ``acc = acc + score`` with inf latched."""
    g = _node_grid(pdf, hops)
    em, ni, hop = g["em"], g["ni"], hops["H"]
    rows = np.arange(len(em))
    first = g["first"]
    pick = np.zeros(len(em), dtype=np.int64)
    acc = np.zeros(len(em))
    pick[first] = np.argmin(em[first], axis=1)
    score = em[first, pick[first]]
    acc[first] = np.where(np.isfinite(score), 0.0 + score, np.inf)
    for prev, cur in _steps(g):
        sc = em[cur] + hop[ni[prev, pick[prev]][:, None], ni[cur]]
        pick[cur] = np.argmin(sc, axis=1)
        score = sc[np.arange(len(cur)), pick[cur]]
        acc[cur] = np.where(np.isfinite(score), acc[prev] + score, np.inf)
    out = g["rows"][_DP_COLS[:-1]].iloc[g["lay_start"] + pick].reset_index(drop=True)
    out["emission"] = em[rows, pick]
    out["acc_cost"] = acc
    return out


def viterbi_align(
    candidates: DataFrame, edges_directed: DataFrame, debug: bool = False
) -> DataFrame:
    """R7: per-trip global optimum over candidate layers.

    emission(cand)   = dist * CAND_PEN_FAC   (A5, station_group.cpp:56-93)
    transition(a, b) = H[cand_node(a), cand_node(b)], the shortest-path
                       cost (R6; cross-component => +inf, router.cpp:598-599)

    Tie-break at every argmin: smaller (cost, edge_id) — deterministic
    across partitionings (SURVEY §7 risk 1).

    Output one row per (trip, seq): the chosen candidate and the
    accumulated optimal cost at that layer. With ``debug=True``, the
    ``pfaedle -T``-style surface instead: EVERY candidate state with its
    layer DP cost and a ``chosen`` flag (the chosen=true subset equals
    the default output).
    """
    bc = hop_broadcast(candidates.sparkSession, edges_directed)
    return bucketed_apply(
        candidates.select(*_DP_COLS), "trip_id",
        lambda pdf: viterbi_batch(pdf, bc.value, debug=debug),
        _DEBUG_SCHEMA if debug else _ALIGN_SCHEMA,
    )


def greedy2_align(candidates: DataFrame, edges_directed: DataFrame) -> DataFrame:
    """R8 routeGreedy2 (``router.cpp:352-398``): chain from the previous
    chosen candidate — layer 0 takes its min-emission candidate, each
    later layer takes argmin(transition from previous choice + emission).
    Cheaper than the global solve (one hop row per layer), same output
    schema as viterbi_align minus acc optimality."""
    bc = hop_broadcast(candidates.sparkSession, edges_directed)
    return bucketed_apply(
        candidates.select(*_DP_COLS), "trip_id",
        lambda pdf: greedy2_batch(pdf, bc.value), _ALIGN_SCHEMA,
    )


_HOP_COLS = ["trip_id", "seq", "image_id", "to_image", "cand_node", "to_node"]
_HOP_SCHEMA = (
    "trip_id string, seq long, image_id string, to_image string, "
    "cand_node long, to_node long, path_cost double"
)


def _rank1_hops(candidates: DataFrame) -> DataFrame:
    """Consecutive rank-1 candidate nodes of each trip: one row per hop
    (cand_node -> to_node), the last observation of a trip dropped."""
    from pyspark.sql import Window

    w = Window.partitionBy("trip_id").orderBy("seq")
    return (
        candidates.filter("rank = 1")
        .select("trip_id", "seq", "image_id", "cand_node")
        .withColumn("to_node", F.lead("cand_node").over(w))
        .withColumn("to_image", F.lead("image_id").over(w))
        .filter(F.col("to_node").isNotNull())
    )


def _hop_rows(pdf: pd.DataFrame, hop: dict) -> pd.DataFrame:
    """``pdf``'s hops with their :func:`hop_costs` gather as
    ``path_cost`` (NaN where unreachable)."""
    cost = hop_costs(hop, pdf["cand_node"], pdf["to_node"])
    out = pdf[_HOP_COLS].copy()
    out["path_cost"] = np.where(np.isinf(cost), np.nan, cost)
    return out


def _null_nan(df: DataFrame) -> DataFrame:
    # unreachable (cross-component) hops: surface as SQL NULL, not NaN
    return df.withColumn(
        "path_cost",
        F.when(F.isnan("path_cost"), F.lit(None)).otherwise(F.col("path_cost")),
    )


def hop_shortest_paths_cogrouped(
    candidates: DataFrame, edges_bidir: DataFrame, components: DataFrame
) -> DataFrame:
    """R6 WITHOUT any driver-side graph broadcast — the continental-scale
    fallback SCALING.md designs: hops and edges are cogrouped on the
    component label, so each task receives exactly its component's
    subgraph through the shuffle, builds its CSR (compact states) and
    gathers from the :func:`hop_table` rows of its distinct candidate
    nodes. Cross-component hops short-circuit to NULL before routing
    (the component-infinity rule, router.cpp:598-599).

    Output and semantics are identical to :func:`hop_shortest_paths`
    (the driver oracle is shared), only the physical plan differs:
    broadcast table -> component-keyed subgraph join.
    """
    n_buckets = dp_partitions(candidates.sparkSession)
    comp_from = components.select(
        F.col("node_id").alias("cand_node"), F.col("label").alias("comp")
    )
    comp_to = components.select(
        F.col("node_id").alias("to_node"), F.col("label").alias("to_comp")
    )
    hops = _rank1_hops(candidates).join(comp_from, "cand_node").join(comp_to, "to_node")
    cross = hops.filter(F.col("comp") != F.col("to_comp")).select(
        *_HOP_COLS, F.lit(None).cast("double").alias("path_cost"),
    )
    # trip-bucket salting: one component would otherwise be ONE task;
    # replicating the (small, graph-side) edge set n_buckets x restores
    # task parallelism while hops still never leave their subgraph.
    within = hops.filter(F.col("comp") == F.col("to_comp")).withColumn(
        "bucket", F.pmod(F.hash("trip_id"), F.lit(n_buckets))
    )
    comp_src = components.select(
        F.col("node_id").alias("src"), F.col("label").alias("comp")
    )
    edges_comp = (
        edges_bidir.join(comp_src, "src")
        .select("comp", "src", "dst", "length")
        .withColumn(
            "bucket", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
        )
    )

    def solve(hops_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        csr = build_csr(edges_pdf["src"], edges_pdf["dst"], edges_pdf["length"])
        return _hop_rows(hops_pdf, hop_lookup(csr, hops_pdf["cand_node"]))

    solved = (
        within.groupBy("comp", "bucket")
        .cogroup(edges_comp.groupBy("comp", "bucket"))
        .applyInPandas(solve, schema=_HOP_SCHEMA)
    )
    return _null_nan(solved.unionByName(cross))


def hop_shortest_paths(candidates: DataFrame, edges_bidir: DataFrame) -> DataFrame:
    """R6 exposed as its own operator: cost of the shortest path between
    consecutive rank-1 candidate nodes of each trip, uniform weights.

    Uniform weights on the synthetic full grid admit a closed-form
    oracle (Manhattan distance), giving a CONFIRMED correctness gate
    for the hop table. Cross-component hops report +inf as NULL.
    """
    bc = hop_broadcast(candidates.sparkSession, edges_bidir, level_punish=False)
    out = bucketed_apply(
        _rank1_hops(candidates), "trip_id", lambda pdf: _hop_rows(pdf, bc.value), _HOP_SCHEMA
    )
    return _null_nan(out)
