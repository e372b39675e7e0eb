"""Markov-chain modeling of per-user event sequences.

Behavioral transition analysis over the event stream: the empirical
event-type transition matrix (who goes from `view` to `purchase`), and its
stationary distribution by exact-integer power iteration — the long-run
share of each event type implied by observed behavior. Standard
session-modeling tools for product analytics and for behavioral-cloning /
user-simulation training data.

Determinism contract: transition counts are exact integers; the stationary
iteration uses micro-unit integer arithmetic with floor division (same
scheme as graph.pagerank), so every round is bit-exact and the DuckDB
oracle replays it with unrolled CTEs.

Scale notes (100 TB):
- transitions: one window (lead) per user partition — the shuffle is keyed
  by user, and the window state per key is one row. Output collapses to
  |types|^2 rows via a map-side-combined count.
- stationary: the chain state is |types| rows; each iteration is a
  broadcast-join against the (tiny) transition matrix — zero large-side
  shuffles, driver loop with no per-row collects.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def transitions(df: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Empirical transition matrix of consecutive events per user:
    (from_type, to_type, cnt, p) where p = cnt / out-count of from_type,
    quantized. Ordering ties break on `event_id` for engine stability.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        df.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type", 1).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_from = Window.partitionBy("from_type")
    scale = float(10**6)
    p = F.col("cnt").cast("double") / F.sum("cnt").over(w_from).cast("double")
    return pairs.select(
        "from_type",
        "to_type",
        "cnt",
        (F.floor(p * scale + F.lit(0.5)) / F.lit(scale)).alias("p"),
    )


def stationary_distribution(
    trans: DataFrame, iterations: int = 6
) -> DataFrame:
    """Stationary distribution of the transition matrix by power iteration
    in exact integer micro-units.

    x_0(s) = MICRO for every state;
    x_{i+1}(t) = \u03a3_s floor(x_i(s) * cnt(s,t) / out(s))
    \u2014 all integer floor division, so each round is exactly reproducible and
    an unrolled-CTE SQL oracle can replay it. States with no outgoing
    transitions keep their mass (identity row). Output: (state, mass_micro).

    The matrix is |event-type|^2 cells \u2014 an enum-sized dim \u2014 so the
    iteration runs DRIVER-SIDE on one bounded collect (the same bounded
    contract as the BPE merge scalars and IVF centroids): the distributed
    form paid 6 rounds of join+agg+checkpoint stage latency on a
    ~dozen-row frame (~3.3 s of pure scheduling at any SF). The heavy,
    SF-scaling part \u2014 the transitions() aggregation over the event log \u2014
    stays fully distributed; Python ints are arbitrary-precision, so the
    driver loop reproduces the DECIMAL(38,0) path bit-for-bit.
    """
    spark = trans.sparkSession
    edges = [
        (r["s"], r["t"], int(r["cnt"]))
        for r in trans.select(
            F.col("from_type").alias("s"), F.col("to_type").alias("t"), "cnt"
        ).collect()
    ]
    outc: dict = {}
    states: set = set()
    for s, t, cnt in edges:
        outc[s] = outc.get(s, 0) + cnt
        states.add(s)
        states.add(t)
    sinks = states - set(outc)
    x = {st: MICRO for st in states}
    for _ in range(iterations):
        nxt = dict.fromkeys(states, 0)
        for s, t, cnt in edges:
            nxt[t] += (x[s] * cnt) // outc[s]
        for st in sinks:  # no outgoing edges: mass carries over
            nxt[st] += x[st]
        x = nxt
    return spark.createDataFrame(
        [(st, int(m)) for st, m in sorted(x.items())],
        "state string, mass_micro bigint",
    )
