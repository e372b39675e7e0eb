"""Probabilistic record linkage (entity resolution): multi-pass blocking +
Fellegi-Sunter-style field-agreement scoring (Fellegi & Sunter 1969; the
Splink/dedupe.io production shape).

All-pairs comparison is quadratic and impossible at scale; linkage runs as

  1. BLOCKING: candidate pairs = union of several cheap equi-join passes
     (each pass an equi join on one blocking key — survives one field being
     dirty as long as ANY pass agrees);
  2. SCORING: per-field agreement weights summed into a match score —
     integer milli-ban weights (scaled log-likelihood ratios), so scores
     are exact and the DuckDB oracle replays them;
  3. RESOLUTION: best candidate per left record (max score, min right id),
     thresholded.

Scale shape: each blocking pass is one equi-join whose key distributes
(skewed blocks are the known hazard — cap block sizes like stop-shingles if
a key collapses); scoring is a projection over candidate pairs; resolution
is one max_by groupBy keyed by the left id.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def blocked_candidates(
    left: DataFrame,
    right: DataFrame,
    blocking_keys: Sequence[tuple[Column, Column]],
    left_id: str = "l_id",
    right_id: str = "r_id",
) -> DataFrame:
    """Union of equi-join passes; output distinct (left row ⨯ right row)
    candidate pairs with all left_/right_ prefixed columns."""
    l = left.select([F.col(c).alias(f"l_{c}") for c in left.columns])
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    out = None
    for lk, rk in blocking_keys:
        cand = l.join(r, lk.eqNullSafe(rk))
        out = cand if out is None else out.unionByName(cand)
    return out.dropDuplicates([left_id, right_id])


def score_pairs(
    cands: DataFrame,
    comparisons: Sequence[tuple[Column, int, int]],
) -> DataFrame:
    """Fellegi-Sunter match score: for each (agree_predicate, w_agree,
    w_disagree) comparison, add the agreement or disagreement weight
    (integer milli-bans: 1000 * log-likelihood-ratio, pre-scaled by the
    caller). NULL-involved comparisons contribute 0 (the standard
    'missing is uninformative' convention). NOTE the deliberate asymmetry
    with blocked_agreement_patterns, whose binary bit vector cannot express
    'missing' and records a NULL comparison as disagreement: EM weights
    should be estimated on fields that are populated in the candidate
    population (or imputed) — on heavily-null fields the m/u estimates
    would be calibrated against a stricter population than this scorer
    applies them to."""
    score = F.lit(0)
    for pred, w_a, w_d in comparisons:
        score = score + F.when(pred.isNull(), 0).otherwise(
            F.when(pred, F.lit(w_a)).otherwise(F.lit(w_d))
        )
    return cands.withColumn("match_score", score.cast("bigint"))


def resolve_best(
    scored: DataFrame,
    left_id: str,
    right_id: str,
    threshold: int,
) -> DataFrame:
    """One row per left record: its best-scoring candidate (ties -> lowest
    right id) and whether it clears the match threshold."""
    # min_by over (-score, rid): highest score, ties to the LOWEST right
    # id — and unlike negating the id column it stays deterministic for
    # string/uuid ids (unary minus would cast those to double -> NULL
    # tie-break keys -> arbitrary pick)
    best = scored.groupBy(left_id).agg(
        F.min_by(
            F.struct(
                F.col(right_id).alias("rid"),
                F.col("match_score").alias("s"),
            ),
            F.struct(
                (-F.col("match_score")).alias("ns"),
                F.col(right_id).alias("r"),
            ),
        ).alias("b"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return best.select(
        left_id,
        F.col("b.rid").alias(right_id),
        F.col("b.s").alias("match_score"),
        "n_candidates",
        (F.col("b.s") >= threshold).alias("matched"),
    )


def blocked_resolve_best(
    left: DataFrame,
    right: DataFrame,
    blocking_keys: Sequence[tuple[Column, Column]],
    comparisons: Sequence[tuple[Column, int, int]],
    left_id: str,
    right_id: str,
    threshold: int,
) -> DataFrame:
    """blocked_candidates -> score_pairs -> resolve_best, WITHOUT
    materializing or deduplicating the candidate-pair set.

    The blocked pair set is quadratic in block size (the (nation, segment)
    pass at sf1 is ~1.8e8 pairs), and the composed pipeline shuffles it
    TWICE: once for dropDuplicates, once for the resolve groupBy. Neither
    exchange is needed:

    - the best candidate per left id is a min_by, and duplicate rows
      cannot change a min — so it folds over the union-ALL of the
      blocking passes directly;
    - n_candidates (the DISTINCT pair count per left id) is recovered by
      counting each pair only in its FIRST producing pass: a pass-i row
      carries flag ``not agree(key_0) and .. and not agree(key_{i-1})``,
      a pure function of the pair, so the flags sum to exactly the
      distinct-union count.

    Each pass is one equi-join whose output flows straight into a
    map-side-combined aggregation keyed by the left id — the only
    exchange carries one partial row per (left id, partition), never the
    pair set. Output schema and values are identical to the composed
    pipeline (pinned by tests/test_behavior.py)."""
    l = left.select([F.col(c).alias(f"l_{c}") for c in left.columns])
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    score = F.lit(0)
    for pred, w_a, w_d in comparisons:
        score = score + F.when(pred.isNull(), 0).otherwise(
            F.when(pred, F.lit(w_a)).otherwise(F.lit(w_d))
        )
    score = score.cast("bigint")
    parts = []
    for i, (lk, rk) in enumerate(blocking_keys):
        first = F.lit(True)
        for j in range(i):
            pk, qk = blocking_keys[j]
            first = first & ~pk.eqNullSafe(qk)
        parts.append(
            l.join(r, lk.eqNullSafe(rk)).select(
                F.col(left_id),
                F.col(right_id),
                score.alias("match_score"),
                first.cast("bigint").alias("_first_pass"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    best = allp.groupBy(left_id).agg(
        F.min_by(
            F.struct(
                F.col(right_id).alias("rid"),
                F.col("match_score").alias("s"),
            ),
            F.struct(
                (-F.col("match_score")).alias("ns"),
                F.col(right_id).alias("r"),
            ),
        ).alias("b"),
        # coalesce against a non-nullable literal: count() in resolve_best
        # is non-nullable and the schema must stay bit-identical (a group
        # always has rows, so the branch never fires)
        F.coalesce(F.sum("_first_pass"), F.lit(0).cast("bigint")).alias(
            "n_candidates"
        ),
    )
    return best.select(
        left_id,
        F.col("b.rid").alias(right_id),
        F.col("b.s").alias("match_score"),
        "n_candidates",
        (F.col("b.s") >= threshold).alias("matched"),
    )


MICRO = 1_000_000


def blocked_agreement_patterns(
    left: DataFrame,
    right: DataFrame,
    blocking_keys: Sequence[tuple[Column, Column]],
    agree_preds: Sequence[Column],
) -> DataFrame:
    """Agreement-pattern counts over the DISTINCT union of blocking passes
    WITHOUT materializing or deduplicating the pair set.

    blocked_candidates plus a pattern agg over its output shuffles every
    candidate pair once for the dropDuplicates and again for the pattern agg — at sf0.1
    that is 1.5M wide rows through two shuffles for a 16-row result. Here
    each join-key SUBSET gets its own equi-join whose pattern counts
    aggregate map-side in the same stage (nothing but ≤2^F partial rows
    cross the wire), and inclusion-exclusion recovers the distinct-union
    counts: |A ∪ B| per pattern = Σ_{∅≠S} (-1)^{|S|+1} count_S. A pair's
    pattern is a pure function of the pair, so it is identical in every
    pass that produced it — which is what makes the subtraction valid.
    Cost: 2^P - 1 joins for P blocking passes (P is 2-3 in practice) of
    the ORIGINAL small inputs, vs one shuffle of the multiplied pair set.
    """
    l = left.select([F.col(c).alias(f"l_{c}") for c in left.columns])
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    pid = F.lit(0)
    for f, pred in enumerate(agree_preds):
        pid = pid + F.when(pred, F.lit(1 << f)).otherwise(F.lit(0))
    n = len(blocking_keys)
    parts = []
    for mask in range(1, 1 << n):
        cond = None
        for i in range(n):
            if (mask >> i) & 1:
                lk, rk = blocking_keys[i]
                eq = lk.eqNullSafe(rk)
                cond = eq if cond is None else cond & eq
        sign = 1 if bin(mask).count("1") % 2 == 1 else -1
        cnt = (
            l.join(r, cond)
            .select(pid.alias("pattern"))
            .groupBy("pattern")
            .agg((F.count(F.lit(1)) * sign).alias("n"))
        )
        parts.append(cnt)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.groupBy("pattern")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .filter(F.col("n") > 0)
    )


def em_fs_weights(
    patterns: DataFrame,
    n_fields: int,
    iterations: int = 5,
) -> list[dict]:
    """Fellegi-Sunter parameter estimation by EM over agreement-pattern
    counts (Winkler 1988), in EXACT integer micro-units so every iteration
    is engine-reproducible:

      E: per pattern p — num_m = λ·Π_f (agree_f(p) ? m_f : M-m_f),
         num_u = (M-λ)·Π_f (agree_f(p) ? u_f : M-u_f)   (M = 1e6; python
         big ints, ~1e30 magnitude — DuckDB replays in HUGEINT);
         r_p = floor(num_m · M / (num_m + num_u))
      M: m_f = floor(Σ_p n_p·r_p·agree_f · M / Σ_p n_p·r_p)  (u_f dual
         with M-r_p), λ = floor(Σ n_p·r_p / Σ n_p)

    The fold runs driver-side over the ≤2^F-row pattern frame (bounded by
    field count, not data size). Returns per-iteration states; the last
    entry's m/u feed score_pairs as log-likelihood-ratio weights."""
    rows = {r["pattern"]: r["n"] for r in patterns.collect()}
    M = MICRO
    m = [900_000] * n_fields
    u = [100_000] * n_fields
    lam = 500_000
    states = []
    for _ in range(iterations):
        r_p: dict[int, int] = {}
        for p in rows:
            num_m, num_u = lam, M - lam
            for f in range(n_fields):
                agree = (p >> f) & 1
                num_m *= m[f] if agree else M - m[f]
                num_u *= u[f] if agree else M - u[f]
            r_p[p] = (num_m * M) // (num_m + num_u) if (num_m + num_u) else 0
        tot_r = sum(rows[p] * r_p[p] for p in rows)
        tot_n = sum(rows.values())
        new_m, new_u = [], []
        for f in range(n_fields):
            agree_r = sum(
                rows[p] * r_p[p] for p in rows if (p >> f) & 1
            )
            agree_notr = sum(
                rows[p] * (M - r_p[p]) for p in rows if (p >> f) & 1
            )
            tot_notr = sum(rows[p] * (M - r_p[p]) for p in rows)
            new_m.append((agree_r * M) // tot_r if tot_r else 0)
            new_u.append((agree_notr * M) // tot_notr if tot_notr else 0)
        m, u = new_m, new_u
        lam = tot_r // tot_n if tot_n else 0
        states.append({"m": list(m), "u": list(u), "lambda": lam})
    return states
