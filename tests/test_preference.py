"""Bradley-Terry preference strengths (operators/preference.py) and
Fleiss' multi-rater kappa (operators/evaluation.py)."""

import pytest

from careers_spark.operators.evaluation import fleiss_kappa
from careers_spark.operators.preference import bradley_terry_strength


def _bt_python(win_pairs, iterations=8, precision=10):
    """Independent pure-python replay of the MM iteration with the
    same per-iteration rounding — the lockstep twin."""
    wins = {}
    for w, l in win_pairs:
        if w == l:
            continue
        wins[(w, l)] = wins.get((w, l), 0) + 1
    ntot = {}
    for (i, j), n in wins.items():
        ntot[(i, j)] = ntot.get((i, j), 0) + n
        ntot[(j, i)] = ntot.get((j, i), 0) + n
    arms = sorted({i for i, _ in ntot})
    W = {a: 0 for a in arms}
    for (i, _), n in wins.items():
        W[i] += n
    w = {a: round(1.0 / len(arms), precision) for a in arms}
    for _ in range(iterations):
        raw = {}
        for i in arms:
            if W[i] == 0:
                raw[i] = 0.0
                continue
            den = sum(
                n / (w[i] + w[j])
                for (ii, j), n in ntot.items()
                if ii == i
            )
            raw[i] = W[i] / den
        s_tot = sum(raw[a] for a in arms)
        w = {a: round(raw[a] / s_tot, precision) for a in arms}
    return W, w


def _fit(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "winner string, loser string")
    rows = bradley_terry_strength(df, **kw).collect()
    return {r.arm: r for r in rows}


def test_bt_two_arm_closed_form(spark):
    # A beats B 3x, B beats A 1x: the MLE has w_A/w_B = 3, so the
    # sum-1 normalization gives (0.75, 0.25).
    out = _fit(spark, [("A", "B")] * 3 + [("B", "A")])
    assert out["A"].wins == 3 and out["A"].games == 4
    assert out["B"].wins == 1 and out["B"].games == 4
    assert abs(out["A"].strength - 0.75) < 1e-6
    assert abs(out["B"].strength - 0.25) < 1e-6
    assert out["A"].rank == 1 and out["B"].rank == 2


def test_bt_symmetry_and_multiplicity_invariance(spark):
    # Equal head-to-head records -> uniform strengths; doubling every
    # comparison count leaves the fixpoint unchanged (the MM update
    # depends only on win RATIOS).
    pairs = [("A", "B"), ("B", "A"), ("B", "C"), ("C", "B"),
             ("A", "C"), ("C", "A")]
    out1 = _fit(spark, pairs)
    for a in "ABC":
        assert abs(out1[a].strength - 1 / 3) < 1e-9
    out2 = _fit(spark, pairs * 2)
    for a in "ABC":
        assert out2[a].strength == out1[a].strength
        assert out2[a].wins == 2 * out1[a].wins


def test_bt_zero_win_arm_is_exact_zero(spark):
    out = _fit(spark, [("A", "B"), ("A", "B"), ("B", "C"), ("A", "C")])
    assert out["C"].wins == 0
    assert out["C"].strength == 0.0
    assert out["C"].rank == 3


def test_bt_python_lockstep(spark):
    import random

    rng = random.Random(17)
    arms = ["m0", "m1", "m2", "m3", "m4"]
    pairs = []
    for _ in range(400):
        i, j = rng.sample(range(5), 2)
        # heavier arms win more often
        if rng.random() < (i + 1) / (i + j + 2):
            pairs.append((arms[i], arms[j]))
        else:
            pairs.append((arms[j], arms[i]))
    W, want = _bt_python(pairs)
    out = _fit(spark, pairs)
    for a in arms:
        assert out[a].wins == W[a]
        # identical recurrence + per-iteration rounding; the only
        # slack is IEEE addition order on the 5-arm sums
        assert abs(out[a].strength - want[a]) < 1e-9


def test_bt_pair_bound_forces_spark_loop(spark, monkeypatch):
    """Few arms but more n_tot pairs than the numpy-path bound: the fit
    must take the Spark MM loop (the numpy path would collect the whole
    pairwise matrix) and still match the python replay."""
    import careers_spark.operators.preference as P
    import careers_spark.operators.similarity as SIM

    arms = ["m0", "m1", "m2", "m3"]
    pairs = [(a, b) for a in arms for b in arms if a < b] + [("m3", "m0")] * 2
    n_pairs = 2 * len({tuple(sorted(p)) for p in pairs})  # both directions

    def numpy_path_taken(*a, **k):
        raise AssertionError("numpy path taken above the pair bound")

    monkeypatch.setattr(SIM, "_np_round_half_up", numpy_path_taken)
    monkeypatch.setattr(P, "NUMPY_MAX_PAIRS", n_pairs - 1)
    W, want = _bt_python(pairs)
    out = _fit(spark, pairs)
    for a in arms:
        assert out[a].wins == W[a]
        assert abs(out[a].strength - want[a]) < 1e-9
    # at the bound the numpy path runs (and trips the sentinel)
    monkeypatch.setattr(P, "NUMPY_MAX_PAIRS", n_pairs)
    with pytest.raises(AssertionError, match="numpy path taken"):
        _fit(spark, pairs)


def test_bt_self_comparisons_dropped(spark):
    out = _fit(spark, [("A", "A")] * 5 + [("A", "B")])
    assert out["A"].games == 1 and out["A"].wins == 1


# ---------------------------------------------------------------------------
def _kappa(spark, rows):
    df = spark.createDataFrame(rows, "item long, rater long, label string")
    (r,) = fleiss_kappa(df).collect()
    return r


def test_fleiss_perfect_agreement(spark):
    rows = [(i, r, "keep" if i % 2 else "reject")
            for i in range(6) for r in range(3)]
    r = _kappa(spark, rows)
    assert (r.n_items, r.n_raters, r.equal_raters) == (6, 3, True)
    assert r.kappa == 1.0


def test_fleiss_hand_example(spark):
    # 4 items x 2 raters, binary labels. Agreements on items 0,1;
    # disagreements on 2,3. S = 2 items * 2 = 4 -> Pbar = 4/(4*2*1)=0.5
    # T_keep = 4, T_reject = 4 -> Pe = (16+16)/64 = 0.5 -> kappa = 0.
    rows = [
        (0, 0, "keep"), (0, 1, "keep"),
        (1, 0, "reject"), (1, 1, "reject"),
        (2, 0, "keep"), (2, 1, "reject"),
        (3, 0, "reject"), (3, 1, "keep"),
    ]
    r = _kappa(spark, rows)
    assert r.s_agree == 4
    assert float(r.sum_t2) == 32.0
    assert r.pbar == 0.5 and r.pe == 0.5
    assert r.kappa == 0.0


def test_fleiss_python_lockstep(spark):
    import random

    rng = random.Random(31)
    labels = ["a", "b", "c"]
    rows = [(i, r, rng.choice(labels)) for i in range(40) for r in range(4)]
    # independent recompute
    from collections import Counter

    nic = Counter((i, lab) for i, _, lab in rows)
    items = sorted({i for i, _, _ in rows})
    N, R = len(items), 4
    S = sum(n * (n - 1) for n in nic.values())
    tc = Counter()
    for (_, lab), n in nic.items():
        tc[lab] += n
    pbar = S / (N * R * (R - 1))
    pe = sum(v * v for v in tc.values()) / (N * R) ** 2
    want = round((pbar - pe) / (1 - pe), 6)
    r = _kappa(spark, rows)
    assert r.equal_raters and r.n_raters == 4
    assert r.s_agree == S
    assert abs(r.kappa - want) < 2e-6


def test_fleiss_unequal_raters_surfaced(spark):
    rows = [(0, 0, "a"), (0, 1, "a"), (1, 0, "a")]
    r = _kappa(spark, rows)
    assert r.equal_raters is False
    assert r.kappa is None


def test_fleiss_single_class_degenerate(spark):
    # everyone always says "a": Pe = 1 -> kappa undefined -> NULL
    rows = [(i, r, "a") for i in range(5) for r in range(2)]
    r = _kappa(spark, rows)
    assert r.pe == 1.0
    assert r.kappa is None


# ---------------------------------------------------------------------------
def _cycles(spark, pairs):
    df = spark.createDataFrame(pairs, "winner string, loser string")
    from careers_spark.operators.preference import preference_cycles

    (r,) = preference_cycles(df).collect()
    return r


def test_cycles_rock_paper_scissors(spark):
    r = _cycles(spark, [("A", "B"), ("B", "C"), ("C", "A")])
    assert (r.n_arms, r.n_majority_edges) == (3, 3)
    assert (r.n_complete_triads, r.n_cyclic_triads) == (1, 1)
    assert r.cyclic_rate == 1.0


def test_cycles_transitive_chain(spark):
    r = _cycles(spark, [("A", "B"), ("B", "C"), ("A", "C")])
    assert (r.n_complete_triads, r.n_cyclic_triads) == (1, 0)
    assert r.cyclic_rate == 0.0


def test_cycles_tie_breaks_triad(spark):
    r = _cycles(
        spark,
        [("A", "B"), ("B", "A"), ("B", "C"), ("A", "C")],
    )
    # A-B head-to-head tied -> no majority edge -> no complete triad
    assert r.n_majority_edges == 2
    assert r.n_complete_triads == 0
    assert r.cyclic_rate is None


def test_cycles_python_lockstep(spark):
    import random
    from itertools import combinations

    rng = random.Random(41)
    arms = [f"a{i}" for i in range(6)]
    pairs = []
    for _ in range(200):
        i, j = rng.sample(arms, 2)
        pairs.append((i, j) if rng.random() < 0.5 else (j, i))
    wins = {}
    for w, l in pairs:
        wins[(w, l)] = wins.get((w, l), 0) + 1
    maj = {
        (i, j)
        for (i, j), n in wins.items()
        if n > wins.get((j, i), 0)
    }
    complete = cyclic = 0
    for t in combinations(sorted(arms), 3):
        es = [
            (x, y)
            for x, y in combinations(t, 2)
            if (x, y) in maj or (y, x) in maj
        ]
        if len(es) == 3:
            complete += 1
            outdeg = {a: 0 for a in t}
            for x, y in combinations(t, 2):
                if (x, y) in maj:
                    outdeg[x] += 1
                else:
                    outdeg[y] += 1
            if sorted(outdeg.values()) == [1, 1, 1]:
                cyclic += 1
    r = _cycles(spark, pairs)
    assert r.n_complete_triads == complete
    assert r.n_cyclic_triads == cyclic


# ---------------------------------------------------------------------------
def _alpha(spark, rows):
    from careers_spark.operators.evaluation import krippendorff_alpha

    df = spark.createDataFrame(rows, "item long, label string")
    (r,) = krippendorff_alpha(df).collect()
    return r


def test_krippendorff_hand_example(spark):
    # u1: A,A  u2: A,B  u3: B,B -> Do = (2)/6, De = (36-18)/30 = 0.6,
    # alpha = 1 - (1/3)/0.6 = 4/9
    rows = [(1, "A"), (1, "A"), (2, "A"), (2, "B"), (3, "B"), (3, "B")]
    r = _alpha(spark, rows)
    assert (r.n_units, r.n_pairable, r.n_ratings) == (3, 3, 6)
    assert r.alpha == round(4 / 9, 6)


def test_krippendorff_unpairable_unit_excluded(spark):
    rows = [(1, "A"), (1, "A"), (2, "A"), (2, "B"), (3, "B"), (3, "B")]
    r0 = _alpha(spark, rows)
    r1 = _alpha(spark, rows + [(9, "A")])  # single rating: unpairable
    assert r1.n_units == 4 and r1.n_pairable == 3
    assert r1.alpha == r0.alpha


def test_krippendorff_perfect_and_degenerate(spark):
    perfect = [(i, "x" if i % 2 else "y") for i in range(4) for _ in range(3)]
    assert _alpha(spark, perfect).alpha == 1.0
    single = [(i, "x") for i in range(4) for _ in range(2)]
    assert _alpha(spark, single).alpha is None


def test_krippendorff_python_lockstep(spark):
    import random
    from collections import Counter

    rng = random.Random(53)
    rows = []
    for u in range(30):
        for _ in range(rng.randrange(1, 5)):
            rows.append((u, rng.choice("abc")))
    nuc = Counter(rows)
    mu = Counter(u for u, _ in rows)
    pair_units = {u for u, m in mu.items() if m >= 2}
    n = sum(mu[u] for u in pair_units)
    do_sum = 0.0
    for u in pair_units:
        sq = sum(c * c for (uu, _), c in nuc.items() if uu == u)
        do_sum += (mu[u] ** 2 - sq) / (mu[u] - 1)
    tc = Counter()
    for (u, lab), c in nuc.items():
        if u in pair_units:
            tc[lab] += c
    de = (n * n - sum(v * v for v in tc.values())) / (n * (n - 1))
    want = round(1 - (do_sum / n) / de, 6)
    r = _alpha(spark, rows)
    assert r.n_ratings == n
    assert abs(r.alpha - want) < 2e-6


# ---------------------------------------------------------------------------
def _wr(spark, pairs):
    df = spark.createDataFrame(pairs, "winner string, loser string")
    from careers_spark.operators.preference import pairwise_winrate

    return {
        (r.arm_a, r.arm_b): r for r in pairwise_winrate(df).collect()
    }


def _wilson(p, n, z=1.96):
    import math

    z2 = z * z
    mid = p + z2 / (2 * n)
    rad = math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    den = 1 + z2 / n
    return (mid - z * rad) / den, (mid + z * rad) / den


def test_winrate_eight_of_ten_is_undecided(spark):
    out = _wr(spark, [("A", "B")] * 8 + [("B", "A")] * 2)
    r = out[("A", "B")]
    assert (r.n_ab, r.n_ba, r.games) == (8, 2, 10)
    assert r.p_ab == 0.8
    lo, hi = _wilson(0.8, 10)
    assert r.wilson_lo == round(lo, 6) and r.wilson_hi == round(hi, 6)
    # the canonical 8/10 surprise: the 95% interval still covers 0.5
    assert lo < 0.5 < hi
    assert r.decided is False


def test_winrate_shutout_is_decided(spark):
    out = _wr(spark, [("A", "B")] * 20)
    r = out[("A", "B")]
    assert r.p_ab == 1.0
    lo, _ = _wilson(1.0, 20)
    assert r.wilson_lo == round(lo, 6)
    assert lo > 0.5 and r.decided is True


def test_winrate_canonical_order_and_balance(spark):
    out = _wr(spark, [("Z", "A")] * 3 + [("A", "Z")] * 3)
    assert list(out) == [("A", "Z")]
    r = out[("A", "Z")]
    assert (r.n_ab, r.n_ba) == (3, 3)
    assert r.p_ab == 0.5 and r.decided is False


# ---------------------------------------------------------------------------
def _ig(spark, rows):
    from careers_spark.operators.convshape import instruction_grounding

    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    return {
        (r.conv_id, r.turn_idx): r
        for r in instruction_grounding(df).collect()
    }


def test_instruction_grounding_basic_and_recent_user(spark):
    out = _ig(
        spark,
        [
            ("c", 0, "user", "alpha question"),
            ("c", 1, "assistant", "alpha answer"),
            ("c", 2, "user", "beta followup"),
            ("c", 3, "assistant", "beta gamma"),
        ],
    )
    r1 = out[("c", 1)]
    assert (r1.prev_user_turn, r1.overlap_tokens, r1.grounded) == (
        0, 1, True,
    )
    r3 = out[("c", 3)]
    # pairs with the MOST RECENT user turn (2), not turn 0
    assert (r3.prev_user_turn, r3.overlap_tokens) == (2, 1)


def test_instruction_grounding_dangling_and_offtopic(spark):
    out = _ig(
        spark,
        [
            ("c", 0, "assistant", "unprompted greeting"),
            ("c", 1, "user", "alpha"),
            ("c", 2, "assistant", "completely unrelated"),
        ],
    )
    r0 = out[("c", 0)]
    assert r0.prev_user_turn is None
    assert r0.overlap_tokens is None and r0.grounded is None
    r2 = out[("c", 2)]
    assert (r2.overlap_tokens, r2.grounded) == (0, False)


def test_instruction_grounding_distinct_overlap_and_tool_skip(spark):
    out = _ig(
        spark,
        [
            ("c", 0, "user", "spark spark spark engine"),
            ("c", 1, "tool", "spark engine output rows"),
            ("c", 2, "assistant", "spark engine spark engine"),
        ],
    )
    r = out[("c", 2)]
    # tool turn does not displace the user pairing; repeated shared
    # tokens count once each
    assert (r.prev_user_turn, r.overlap_tokens) == (0, 2)


# ---------------------------------------------------------------------------
def test_simpson_classic_reversal(spark):
    from careers_spark.operators.evaluation import simpson_sign_check

    # within each stratum y falls with x; across strata both rise:
    # pooled sign positive, per-stratum signs negative.
    rows = []
    for g, (ox, oy) in enumerate([(0, 0), (100, 100), (200, 200)]):
        for i in range(10):
            rows.append((f"g{g}", ox + i, oy + (9 - i)))
    df = spark.createDataFrame(rows, "stratum string, x long, y long")
    out = {
        r.stratum: r for r in simpson_sign_check(df).collect()
    }
    for g in ("g0", "g1", "g2"):
        assert out[g].cov_sign == -1
        assert out[g].pooled_sign == 1
        assert out[g].is_reversed is True


def test_simpson_aligned_and_zero(spark):
    from careers_spark.operators.evaluation import simpson_sign_check

    rows = [("a", i, i) for i in range(10)] + [
        ("flat", i, 7) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "stratum string, x long, y long")
    out = {
        r.stratum: r for r in simpson_sign_check(df).collect()
    }
    assert out["a"].cov_sign == 1 and out["a"].is_reversed is False
    # constant y: zero covariance never flags
    assert out["flat"].cov_sign == 0
    assert out["flat"].is_reversed is False


def test_simpson_python_lockstep(spark):
    import random

    from careers_spark.operators.evaluation import simpson_sign_check

    rng = random.Random(83)
    rows = [
        (f"s{rng.randrange(4)}", rng.randrange(100), rng.randrange(100))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "stratum string, x long, y long")
    out = {r.stratum: r for r in simpson_sign_check(df).collect()}

    def sgn(v):
        return (v > 0) - (v < 0)

    from collections import defaultdict

    by = defaultdict(list)
    for s, xv, yv in rows:
        by[s].append((xv, yv))
    n = len(rows)
    sx = sum(x for _, x, _ in rows)
    sy = sum(y for _, _, y in rows)
    sxy = sum(x * y for _, x, y in rows)
    pooled = sgn(n * sxy - sx * sy)
    for s, pts in by.items():
        m = len(pts)
        a = sum(x for x, _ in pts)
        b = sum(y for _, y in pts)
        c = sum(x * y for x, y in pts)
        assert out[s].cov_sign == sgn(m * c - a * b)
        assert out[s].pooled_sign == pooled


# ---------------------------------------------------------------------------
def test_selection_bias_audit(spark):
    import math

    from careers_spark.operators.preference import selection_bias_audit

    rows = []
    # position: 70 of 100 first-wins; length: 40 of 60 applicable,
    # 40 comparisons have equal lengths (NULL)
    for i in range(100):
        rows.append(
            (
                i < 70,
                (i % 10 < 4) if i < 60 else None,
            )
        )
    df = spark.createDataFrame(
        rows, "first_won boolean, longer_won boolean"
    )
    out = {r.bias: r for r in selection_bias_audit(df).collect()}
    f = out["first_won"]
    assert (f.n, f.n_biased_wins) == (100, 70)
    assert f.share == 0.7
    want_z = round((2 * 70 - 100) / math.sqrt(100), 6)
    assert f.z == want_z and f.flagged is True
    lo = out["longer_won"]
    assert (lo.n, lo.n_biased_wins) == (60, 24)
    assert lo.flagged is False  # z = -12/sqrt(60) ~ -1.55


def test_selection_bias_all_null_hypothesis(spark):
    from careers_spark.operators.preference import selection_bias_audit

    df = spark.createDataFrame(
        [(True, None), (False, None)],
        "first_won boolean, longer_won boolean",
    )
    out = {r.bias: r for r in selection_bias_audit(df).collect()}
    lo = out["longer_won"]
    assert lo.n == 0
    assert lo.share is None and lo.z is None and lo.flagged is None


def test_bt_fit_report(spark):
    from careers_spark.operators.preference import bt_fit_report

    # two-arm case: BT reproduces the observed rate exactly
    pairs = [("A", "B")] * 3 + [("B", "A")]
    df = spark.createDataFrame(pairs, "winner string, loser string")
    (r,) = bt_fit_report(df).collect()
    assert (r.arm_a, r.arm_b, r.n_ab, r.n_ba) == ("A", "B", 3, 1)
    assert r.observed == 0.75
    assert abs(r.predicted - 0.75) < 1e-5
    assert r.abs_dev < 1e-5


def test_bt_fit_flags_cycles(spark):
    from careers_spark.operators.preference import bt_fit_report

    # rock-paper-scissors: symmetric strengths predict 0.5 everywhere,
    # but every pair is observed 1.0 or 0.0 -> residual 0.5
    pairs = [("A", "B")] * 4 + [("B", "C")] * 4 + [("C", "A")] * 4
    df = spark.createDataFrame(pairs, "winner string, loser string")
    out = {(r.arm_a, r.arm_b): r for r in bt_fit_report(df).collect()}
    for r in out.values():
        assert abs(r.predicted - 0.5) < 1e-5
        assert abs(r.abs_dev - 0.5) < 1e-5
