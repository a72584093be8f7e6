"""Preference modeling over pairwise comparisons — the RLHF-data
analytics layer for transcript corpora.

Preference datasets (chosen/rejected response pairs) are the raw
material of reward modeling; the first question a curation pipeline
asks of them is "what latent strength ordering do these comparisons
imply, and how consistent are they". The canonical answer is the
Bradley-Terry model (Bradley & Terry 1952): P(i beats j) =
w_i / (w_i + w_j), fit by the Zermelo/MM iteration (Hunter 2004,
"MM algorithms for generalized Bradley-Terry models"):

    w_i  <-  W_i / sum_{j != i}  n_ij_tot / (w_i + w_j)

with W_i = total wins of arm i and n_ij_tot = games played between
i and j, then normalized to sum 1 per iteration. The reference has no
preference layer (its closest analogue is the CV<->position match
ranking, WebCVProcess.scala:284-297); this is a from-scratch Spark
expression of the published model.

Scale shape: the ONLY corpus-sized work is one partial-agg
groupBy(winner, loser) building the win matrix — at 10^12 comparisons
that is a single map-side-combinable shuffle to an arms^2 table. The
MM iterations then run on the arms-sized dimension (joins + algebraic
sums + a broadcast 1-row normalizer, localCheckpoint per iteration —
the HITS convention), never touching the corpus again.

Determinism/oracle-exactness: strengths are rounded to `precision`
decimals at every iteration boundary (the pagerank unroll recipe), so
IEEE addition-order noise (~1e-16 on the arms-sized sums) never
reaches a visible digit and the unrolled DuckDB CTE chain reproduces
the values hash-exactly. Zero-win arms stay an exact 0e0 via a CASE,
never a rounded quotient.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# bounds of the in-process (numpy) MM path: arms, and rows of the
# pairwise n_tot matrix it collects — k arms can carry up to k^2 pairs,
# so the arm bound alone does not bound the collect
NUMPY_MAX_ARMS = 100_000
NUMPY_MAX_PAIRS = 2_000_000


def bradley_terry_strength(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    iterations: int = 8,
    precision: int = 10,
) -> DataFrame:
    """Fit Bradley-Terry strengths to a (winner, loser) comparison
    table by `iterations` rounds of the Zermelo/MM update, normalized
    to sum 1 each round.

    The MM fixpoint is scale-invariant and monotone in likelihood
    (Hunter 2004 Thm 1); with the strongly-connected comparison graphs
    produced by real preference data 8 rounds lands within ~1e-6 of
    the MLE (pinned by the closed-form 2-arm golden in
    tests/test_preference.py). Arms that never win converge to an
    exact 0 strength; self-comparisons (winner == loser) carry no
    information and are dropped.

    Output: (arm, wins, games, strength, rank) — rank 1 = strongest,
    ties broken by arm name for determinism.
    """
    c = comparisons.select(
        F.col(winner).alias("wi"), F.col(loser).alias("li")
    ).filter(F.col("wi") != F.col("li"))
    wins_m = c.groupBy(F.col("wi").alias("i"), F.col("li").alias("j")).agg(
        F.count("*").cast("long").alias("n")
    )
    ntot = (
        wins_m.select("i", "j", "n")
        .union(
            wins_m.select(
                F.col("j").alias("i"), F.col("i").alias("j"), "n"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n_tot"))
        .localCheckpoint(eager=True)
    )
    games = ntot.groupBy("i").agg(F.sum("n_tot").alias("games"))
    wtot = wins_m.groupBy("i").agg(F.sum("n").alias("wins"))
    base = (
        games.join(wtot, "i", "left")
        .select(
            "i",
            F.coalesce("wins", F.lit(0).cast("long")).alias("wins"),
            "games",
        )
        .localCheckpoint(eager=True)
    )
    k = base.count()
    if k == 0:
        return base.select(
            F.col("i").alias("arm"),
            "wins",
            "games",
            F.lit(0.0).alias("strength"),
            F.lit(0).alias("rank"),
        )
    # r6 (guide §1.2): the MM loop iterates over ARM-bounded tables
    # (ntot is the pairwise comparison matrix, base one row per arm) —
    # the Spark loop paid 8 checkpoint jobs + 16 joins to converge
    # them. Up to a generous arm bound, collect both once and run the
    # identical update in numpy: the same per-round round(,precision)
    # lattice re-entry pins the iterates (the pagerank lockstep
    # argument — pre-round sum-order noise ~1e-16 sits far below the
    # rounded digit in BOTH engines); the final ranking stays in
    # Spark. Larger arm sets or pair matrices keep the cluster loop
    # below (ntot is checkpointed, so its count is cheap).
    if k <= NUMPY_MAX_ARMS and ntot.count() <= NUMPY_MAX_PAIRS:
        import numpy as np

        from careers_spark.operators.similarity import _np_round_half_up

        bpdf = base.toPandas().sort_values("i").reset_index(drop=True)
        arms = bpdf["i"].tolist()
        idx = {a: ii for ii, a in enumerate(arms)}
        wins_v = bpdf["wins"].to_numpy(np.int64)
        games_v = bpdf["games"].to_numpy(np.int64)
        npdf = ntot.toPandas()
        pi = npdf["i"].map(idx).to_numpy(np.int64)
        pj = npdf["j"].map(idx).to_numpy(np.int64)
        pn = npdf["n_tot"].to_numpy(np.float64)
        w = np.full(k, float(_np_round_half_up(np.array([1.0 / float(k)]),
                                               precision)[0]))
        for _ in range(iterations):
            den = np.zeros(k)
            np.add.at(den, pi, pn / (w[pi] + w[pj]))
            raw = np.where(wins_v == 0, 0.0, wins_v / den)
            w = _np_round_half_up(raw / raw.sum(), precision)
        s = base.sparkSession.createDataFrame(
            [
                (arms[ii], int(wins_v[ii]), int(games_v[ii]), float(w[ii]))
                for ii in range(k)
            ],
            f"i {dict(base.dtypes)['i']}, wins long, games long, w double",
        )
        rk = Window.orderBy(F.desc("w"), F.asc("i"))
        return s.select(
            F.col("i").alias("arm"),
            "wins",
            "games",
            F.col("w").alias("strength"),
            F.row_number().over(rk).alias("rank"),
        )

    s = base.select(
        "i",
        "wins",
        "games",
        F.round(F.lit(1.0) / F.lit(float(k)), precision).alias("w"),
    )
    for _ in range(iterations):
        den = (
            ntot.join(
                s.select("i", F.col("w").alias("w_i")), "i"
            )
            .join(
                s.select(F.col("i").alias("j"), F.col("w").alias("w_j")),
                "j",
            )
            .groupBy("i")
            .agg(
                F.sum(F.col("n_tot") / (F.col("w_i") + F.col("w_j"))).alias(
                    "den"
                )
            )
        )
        raw = base.join(den, "i").select(
            "i",
            "wins",
            "games",
            F.expr(
                "case when wins = 0 then 0e0 else wins / den end"
            ).alias("raw"),
        )
        tot = raw.agg(F.sum("raw").alias("s_tot"))
        s = (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "i",
                "wins",
                "games",
                F.round(F.col("raw") / F.col("s_tot"), precision).alias(
                    "w"
                ),
            )
            .localCheckpoint(eager=True)
        )
    rk = Window.orderBy(F.desc("w"), F.asc("i"))
    return s.select(
        F.col("i").alias("arm"),
        "wins",
        "games",
        F.col("w").alias("strength"),
        F.row_number().over(rk).alias("rank"),
    )


def preference_cycles(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Condorcet-cycle audit of a pairwise-preference table — HOW
    Bradley-Terry-fittable is this data: BT assumes a latent total
    order, and the diagnostic for its violation is cyclic majority
    triads (a > b > c > a in head-to-head majorities, the classic
    intransitivity measure of tournament theory). A high cyclic rate
    says the preferences are noise or multi-dimensional and a scalar
    reward model will fight itself.

    Majority edges: i -> j iff i beat j strictly more often than j
    beat i (head-to-head ties contribute no edge, so their triads are
    incomplete and counted in neither bucket). Complete triads are
    triangles of the undirected majority graph (the canonical a<b<c
    wedge-join enumeration, graph.triangle_stats' shape); a complete
    triad is cyclic iff it is a directed 3-cycle, counted exactly once
    by anchoring the cycle at its minimum arm (each directed 3-cycle
    has exactly one wedge path starting and ending at its minimum).

    All counts are exact integers from arms^2-bounded tables — the
    corpus-sized work is the same single win-matrix groupBy as
    bradley_terry_strength.

    Output: one row — (n_arms, n_majority_edges, n_complete_triads,
    n_cyclic_triads, cyclic_rate).
    """
    c = comparisons.select(
        F.col(winner).alias("wi"), F.col(loser).alias("li")
    ).filter(F.col("wi") != F.col("li"))
    wins_m = c.groupBy(F.col("wi").alias("i"), F.col("li").alias("j")).agg(
        F.count("*").cast("long").alias("n")
    )
    both = (
        wins_m.select("i", "j", F.col("n").alias("n_ij"))
        .join(
            wins_m.select(
                F.col("j").alias("i"),
                F.col("i").alias("j"),
                F.col("n").alias("n_ji"),
            ),
            ["i", "j"],
            "full",
        )
        .select(
            "i",
            "j",
            F.coalesce("n_ij", F.lit(0).cast("long")).alias("n_ij"),
            F.coalesce("n_ji", F.lit(0).cast("long")).alias("n_ji"),
        )
    )
    maj = both.filter(F.col("n_ij") > F.col("n_ji")).select("i", "j")
    maj = maj.localCheckpoint(eager=True)
    arms = (
        c.select(F.col("wi").alias("a"))
        .union(c.select(F.col("li").alias("a")))
        .distinct()
    )
    und = maj.select(
        F.least("i", "j").alias("a"), F.greatest("i", "j").alias("b")
    ).distinct()
    e1 = und.selectExpr("a as x", "b as y")
    e2 = und.selectExpr("a as y", "b as z")
    e3 = und.selectExpr("a as x", "b as z")
    complete = e1.join(e2, "y").join(e3, ["x", "z"]).agg(
        F.count("*").cast("long").alias("n_complete_triads")
    )
    # directed 3-cycles anchored at the minimum arm
    m1 = maj.selectExpr("i as x", "j as y")
    m2 = maj.selectExpr("i as y", "j as z")
    m3 = maj.selectExpr("i as z", "j as x")
    cyc = (
        m1.join(m2, "y")
        .join(m3, ["z", "x"])
        .filter((F.col("x") < F.col("y")) & (F.col("x") < F.col("z")))
        .agg(F.count("*").cast("long").alias("n_cyclic_triads"))
    )
    counts = arms.agg(F.count("*").cast("long").alias("n_arms"))
    ne = maj.agg(F.count("*").cast("long").alias("n_majority_edges"))
    return (
        counts.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(complete))
        .crossJoin(F.broadcast(cyc))
        .select(
            "n_arms",
            "n_majority_edges",
            "n_complete_triads",
            "n_cyclic_triads",
            F.expr(
                "case when n_complete_triads = 0 then null else"
                " round(n_cyclic_triads * 1e0 / n_complete_triads, 6)"
                " end"
            ).alias("cyclic_rate"),
        )
    )


def pairwise_winrate(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """The head-to-head leaderboard table: per unordered arm pair
    (a < b canonically), wins each way and the Wilson 95% score
    interval for P(a beats b) — the LMSYS-style matchup matrix with
    honest small-sample uncertainty (a raw win rate on 3 games says
    nothing; the Wilson bound says exactly how little). `decided`
    flags pairs whose interval clears 0.5 either way — the pairs a
    reward model can safely order.

        wilson = (p + z^2/2n -+ z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n)

    Exactness: wins are integers from the single corpus-sized win-
    matrix groupBy; p is one division of exact integers and the Wilson
    expression is identical text in both engines over those doubles —
    sqrt is IEEE-correctly-rounded, z^2 is written as the product
    1.96e0 * 1.96e0 (never a rounded 3.8416 literal), so every
    intermediate double matches and the bounds hash-exactly under the
    final round(,6).

    Output: (arm_a, arm_b, n_ab, n_ba, games, p_ab, wilson_lo,
    wilson_hi, decided) — one row per pair that played.
    """
    c = comparisons.select(
        F.col(winner).alias("wi"), F.col(loser).alias("li")
    ).filter(F.col("wi") != F.col("li"))
    directed = c.groupBy(
        F.least("wi", "li").alias("arm_a"),
        F.greatest("wi", "li").alias("arm_b"),
    ).agg(
        F.sum(F.when(F.col("wi") < F.col("li"), 1).otherwise(0))
        .cast("long")
        .alias("n_ab"),
        F.sum(F.when(F.col("wi") > F.col("li"), 1).otherwise(0))
        .cast("long")
        .alias("n_ba"),
    )
    z2 = "(1.96e0 * 1.96e0)"
    p = "(n_ab / (games * 1e0))"
    rad = f"sqrt({p} * (1e0 - {p}) / games + {z2} / (4e0 * games * games))"
    mid = f"({p} + {z2} / (2e0 * games))"
    den = f"(1e0 + {z2} / games)"
    return directed.withColumn(
        "games", F.col("n_ab") + F.col("n_ba")
    ).select(
        "arm_a",
        "arm_b",
        "n_ab",
        "n_ba",
        "games",
        F.expr(f"round({p}, 6)").alias("p_ab"),
        F.expr(
            f"round(({mid} - 1.96e0 * {rad}) / {den}, 6)"
        ).alias("wilson_lo"),
        F.expr(
            f"round(({mid} + 1.96e0 * {rad}) / {den}, 6)"
        ).alias("wilson_hi"),
        F.expr(
            f"(({mid} - 1.96e0 * {rad}) / {den} > 0.5e0)"
            f" or (({mid} + 1.96e0 * {rad}) / {den} < 0.5e0)"
        ).alias("decided"),
    )


def selection_bias_audit(
    comparisons: DataFrame, flag_cols=("first_won", "longer_won")
) -> DataFrame:
    """Systematic-bias audit for pairwise preference data — the two
    classic artifacts reward-model data carries: POSITION bias
    (annotators favor the first-listed response) and LENGTH bias
    (longer wins regardless of quality). The caller supplies one
    BOOLEAN column per bias hypothesis (true = the biased side won,
    NULL = hypothesis not applicable to that comparison, e.g. equal
    lengths); the audit reports, per hypothesis, the observed biased-
    win share and the exact binomial z against the fair coin:

        z = (2 * n_true - n) / sqrt(n)

    — integer numerator, IEEE-correctly-rounded sqrt, so the z and
    the |z| > 1.96 flag are engine-identical. One aggregate pass
    computes every hypothesis simultaneously (the
    watermark_drop_rates stack pattern).

    A flagged hypothesis does not prove annotator error — it proves
    the preference signal is CONFOUNDED with the feature, which a
    reward model will learn as if it were quality.

    Output: (bias, n, n_biased_wins, share, z, flagged) — one row per
    hypothesis; all-NULL hypotheses emit n = 0 with NULL stats.
    """
    aggs = []
    for c in flag_cols:
        aggs.append(
            F.count(F.col(c)).cast("long").alias(f"n_{c}")
        )
        aggs.append(
            F.sum(F.when(F.col(c), 1).otherwise(0))
            .cast("long")
            .alias(f"t_{c}")
        )
    wide = comparisons.agg(*aggs)
    pairs = ", ".join(f"'{c}', n_{c}, t_{c}" for c in flag_cols)
    return wide.selectExpr(
        f"stack({len(flag_cols)}, {pairs})"
        " as (bias, n, n_biased_wins)"
    ).select(
        "bias",
        "n",
        "n_biased_wins",
        F.expr(
            "case when n = 0 then null else"
            " round(n_biased_wins * 1e0 / n, 6) end"
        ).alias("share"),
        F.expr(
            "case when n = 0 then null else"
            " round((2e0 * n_biased_wins - n) / sqrt(n * 1e0), 6)"
            " end"
        ).alias("z"),
        F.expr(
            "case when n = 0 then null else"
            " abs((2e0 * n_biased_wins - n) / sqrt(n * 1e0))"
            " > 1.96e0 end"
        ).alias("flagged"),
    )


def bt_fit_report(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    iterations: int = 8,
    precision: int = 10,
) -> DataFrame:
    """Goodness-of-fit of the Bradley-Terry model to its own data:
    per head-to-head pair, the OBSERVED win rate vs the rate the
    fitted strengths PREDICT (w_a / (w_a + w_b)), and their absolute
    deviation — the per-pair residual that says WHERE the
    latent-total-order assumption breaks (its aggregate sibling is
    preference_cycles' cyclic rate; large residuals concentrate on
    the arms inside cycles).

    Exactness: observed is one division of exact win counts;
    predicted divides the (already rounded, engine-identical)
    strengths with shared expression text; both round(,6). A pair
    whose two strengths both rounded to zero surfaces NULL rather
    than dividing by zero.

    Output: (arm_a, arm_b, n_ab, n_ba, observed, predicted, abs_dev)
    — one row per unordered pair that played, arm_a < arm_b.
    """
    c = comparisons.select(
        F.col(winner).alias("wi"), F.col(loser).alias("li")
    ).filter(F.col("wi") != F.col("li"))
    pairs = c.groupBy(
        F.least("wi", "li").alias("arm_a"),
        F.greatest("wi", "li").alias("arm_b"),
    ).agg(
        F.sum(F.when(F.col("wi") < F.col("li"), 1).otherwise(0))
        .cast("long")
        .alias("n_ab"),
        F.sum(F.when(F.col("wi") > F.col("li"), 1).otherwise(0))
        .cast("long")
        .alias("n_ba"),
    )
    s = bradley_terry_strength(
        comparisons,
        winner=winner,
        loser=loser,
        iterations=iterations,
        precision=precision,
    ).select("arm", "strength")
    return (
        pairs.join(
            s.select(
                F.col("arm").alias("arm_a"),
                F.col("strength").alias("w_a"),
            ),
            "arm_a",
        )
        .join(
            s.select(
                F.col("arm").alias("arm_b"),
                F.col("strength").alias("w_b"),
            ),
            "arm_b",
        )
        .select(
            "arm_a",
            "arm_b",
            "n_ab",
            "n_ba",
            F.expr(
                "round(n_ab * 1e0 / (n_ab + n_ba), 6)"
            ).alias("observed"),
            F.expr(
                "case when w_a + w_b = 0e0 then null else"
                " round(w_a / (w_a + w_b), 6) end"
            ).alias("predicted"),
            F.expr(
                "case when w_a + w_b = 0e0 then null else"
                " round(abs(n_ab * 1e0 / (n_ab + n_ba)"
                " - w_a / (w_a + w_b)), 6) end"
            ).alias("abs_dev"),
        )
    )
