"""pfaedle_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of the reference map-matcher
(vesavlad/pfaedle, C++ — see SURVEY.md) as idiomatic Spark DataFrame
plans: grid-cell equi-joins for spatial candidate search, vectorized
column math / Arrow-batched pandas UDFs for geometry, and per-trip
dynamic programming for the Viterbi alignment in one grouped runner
(``operators.routing.bucketed_apply``) that streams key-sorted Arrow
batches.

Not a port: the reference is a single-node in-memory engine; this
package declares logical plans and lets Catalyst/Tungsten pick the
physical strategy, designed for multi-executor clusters at 10^12-row
scale (tested on local[N]).
"""

__version__ = "0.1.0"
