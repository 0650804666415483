"""String scalar functions of the reference, JVM-side where possible.

* maxspeed parser — reference ``string_to_kmh``
  (``src/libs/pfaedle/src/osm/osm_builder.cpp:36-99``): "none"->150,
  mph*1.609344, knots*1.852, ":urban"->50, ":rural"->100, numeric
  passthrough, default 50. Chained ``when``/``regexp_extract`` —
  whole-stage codegen, no UDF.
* statSimi — reference ``include/pfaedle/router/comp.h:18-60``:
  1.0 iff exact match, or prefix/suffix with adjacent space, or
  relative edit distance < 0.05; else 0.0. Uses the built-in
  ``levenshtein`` (reference ``util/String.h:168-191``).
* prefixEditDist — reference ``util/String.h:193-229``: min edit
  distance of a against any prefix of b; expressed as an array-min of
  levenshteins over all prefixes (array expression, no UDF; O(|b|)
  levenshtein calls — same complexity class as the reference DP).

Every function has a DuckDB mirror for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MPH = 1.609344
KNOTS = 1.852
NUM_RE = r"^([0-9]+(\.[0-9]+)?)"


def parse_maxspeed(raw: Column) -> Column:
    """maxspeed tag string -> km/h (double)."""
    s = F.trim(F.lower(raw))
    num = F.regexp_extract(s, NUM_RE, 1)
    return (
        F.when(s.isin("none", "signals"), F.lit(150.0))
        .when(s == "walk", F.lit(5.0))
        .when(s.contains(":urban"), F.lit(50.0))
        .when(s.contains(":rural"), F.lit(100.0))
        .when(s.rlike(r"^[0-9]+(\.[0-9]+)?\s*mph$"), num.cast("double") * MPH)
        .when(s.rlike(r"^[0-9]+(\.[0-9]+)?\s*knots$"), num.cast("double") * KNOTS)
        .when(s.rlike(r"^[0-9]+(\.[0-9]+)?$"), num.cast("double"))
        .otherwise(F.lit(50.0))
    )


def parse_maxspeed_sql(expr: str) -> str:
    s = f"TRIM(LOWER({expr}))"
    num = f"CAST(REGEXP_EXTRACT({s}, '{NUM_RE}', 1) AS DOUBLE)"
    return f"""CASE
  WHEN {s} IN ('none', 'signals') THEN 150.0
  WHEN {s} = 'walk' THEN 5.0
  WHEN CONTAINS({s}, ':urban') THEN 50.0
  WHEN CONTAINS({s}, ':rural') THEN 100.0
  WHEN REGEXP_MATCHES({s}, '^[0-9]+(\\.[0-9]+)?\\s*mph$') THEN {num} * {MPH}
  WHEN REGEXP_MATCHES({s}, '^[0-9]+(\\.[0-9]+)?\\s*knots$') THEN {num} * {KNOTS}
  WHEN REGEXP_MATCHES({s}, '^[0-9]+(\\.[0-9]+)?$') THEN {num}
  ELSE 50.0 END"""


MAXSPEED_SAMPLES = [
    "50", "30 mph", "none", "10 knots", "DE:urban", "80.5", "walk", "foo",
]


def maxspeed_raw(edge_id: Column) -> Column:
    """Deterministic synthetic maxspeed tag per edge (cycles the sample
    list — covers every parser branch)."""
    expr = F.when(edge_id % 8 == 0, MAXSPEED_SAMPLES[0])
    for i in range(1, 8):
        expr = expr.when(edge_id % 8 == i, MAXSPEED_SAMPLES[i])
    return expr


def maxspeed_raw_sql(expr: str) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(MAXSPEED_SAMPLES)
    )
    return f"CASE {expr} % 8 {whens} END"


def stat_simi(a: Column, b: Column) -> Column:
    """Station-name similarity in {0.0, 1.0} (reference comp.h:18-60)."""
    exact = a == b
    pre_a = b.startswith(F.concat(a, F.lit(" ")))
    suf_a = b.endswith(F.concat(F.lit(" "), a))
    pre_b = a.startswith(F.concat(b, F.lit(" ")))
    suf_b = a.endswith(F.concat(F.lit(" "), b))
    rel_ed = (
        F.levenshtein(a, b).cast("double") * 2
        / (F.length(a) + F.length(b)).cast("double")
    )
    return (
        F.when(exact | pre_a | suf_a | pre_b | suf_b, F.lit(1.0))
        .when(rel_ed < 0.05, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def stat_simi_sql(a: str, b: str) -> str:
    return f"""CASE
  WHEN {a} = {b} THEN 1.0
  WHEN STARTS_WITH({b}, {a} || ' ') OR ENDS_WITH({b}, ' ' || {a})
    OR STARTS_WITH({a}, {b} || ' ') OR ENDS_WITH({a}, ' ' || {b}) THEN 1.0
  WHEN CAST(LEVENSHTEIN({a}, {b}) AS DOUBLE) * 2
         / (LENGTH({a}) + LENGTH({b})) < 0.05 THEN 1.0
  ELSE 0.0 END"""


def line_simi(a: Column, b: Column) -> Column:
    """Transit-line-name similarity in {0.0, 1.0} (reference
    ``comp.h:62-101``) — statSimi minus the relative-edit-distance
    clause: exact match or prefix/suffix with adjacent space."""
    exact = a == b
    empty = (F.length(a) == 0) | (F.length(b) == 0)
    pre_a = b.startswith(F.concat(a, F.lit(" ")))
    suf_a = b.endswith(F.concat(F.lit(" "), a))
    pre_b = a.startswith(F.concat(b, F.lit(" ")))
    suf_b = a.endswith(F.concat(F.lit(" "), b))
    return (
        F.when(exact, F.lit(1.0))
        .when(empty, F.lit(0.0))
        .when(pre_a | suf_a | pre_b | suf_b, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def _presuf_neutral(a: str, b: str) -> str:
    """a begins or ends with b + adjacent space — SUBSTRING form that
    parses identically in Spark SQL and DuckDB (no STARTS_WITH/startswith
    naming divergence)."""
    return (
        f"(LENGTH({a}) > LENGTH({b}) + 1 AND ("
        f"SUBSTRING({a}, 1, LENGTH({b}) + 1) = {b} || ' ' OR "
        f"SUBSTRING({a}, LENGTH({a}) - LENGTH({b}), LENGTH({b}) + 1) = ' ' || {b}))"
    )


def line_simi_neutral_sql(a: str, b: str) -> str:
    """lineSimi as dialect-neutral SQL (valid Spark SQL AND DuckDB)."""
    return f"""CASE
  WHEN {a} = {b} THEN 1.0
  WHEN LENGTH({a}) = 0 OR LENGTH({b}) = 0 THEN 0.0
  WHEN {_presuf_neutral(a, b)} OR {_presuf_neutral(b, a)} THEN 1.0
  ELSE 0.0 END"""


def stat_simi_neutral_sql(a: str, b: str) -> str:
    """statSimi (comp.h:18-60, editDist/max-length variant) as
    dialect-neutral SQL."""
    return f"""CASE
  WHEN {a} = {b} THEN 1.0
  WHEN LENGTH({a}) = 0 OR LENGTH({b}) = 0 THEN 0.0
  WHEN {_presuf_neutral(a, b)} OR {_presuf_neutral(b, a)} THEN 1.0
  WHEN CAST(LEVENSHTEIN({a}, {b}) AS DOUBLE)
         / GREATEST(LENGTH({a}), LENGTH({b})) < 0.05 THEN 1.0
  ELSE 0.0 END"""


def _presuf_value(a: str, b: str) -> bool:
    """Python twin of :func:`_presuf_neutral`."""
    n = len(b) + 1
    return len(a) > n and (a[:n] == b + " " or a[-n:] == " " + b)


def _levenshtein(a: str, b: str) -> int:
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1, prev + (ca != cb))
    return row[-1]


def line_simi_value(a: str, b: str) -> float:
    """Python twin of :func:`line_simi_neutral_sql`."""
    if a == b:
        return 1.0
    if not a or not b:
        return 0.0
    return 1.0 if _presuf_value(a, b) or _presuf_value(b, a) else 0.0


def stat_simi_value(a: str, b: str) -> float:
    """Python twin of :func:`stat_simi_neutral_sql`."""
    if line_simi_value(a, b) == 1.0:
        return 1.0
    if not a or not b:
        return 0.0
    return 1.0 if _levenshtein(a, b) / max(len(a), len(b)) < 0.05 else 0.0


def prefix_edit_dist(a: Column, b: Column) -> Column:
    """min over prefixes p of b of levenshtein(a, p)."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.length(b)),
            lambda i: F.levenshtein(a, b.substr(F.lit(1), i)),
        )
    )


def prefix_edit_dist_sql(a: str, b: str) -> str:
    return (
        f"LIST_MIN(LIST_TRANSFORM(RANGE(0, LENGTH({b}) + 1), "
        f"i -> LEVENSHTEIN({a}, SUBSTRING({b}, 1, i))))"
    )
