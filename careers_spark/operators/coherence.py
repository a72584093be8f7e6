"""Per-conversation coherence disambiguation + triple extraction.

The Spark re-expression of the reference's AmbiguityForest resolution
(reference: disambiguator/AmbiguityForest.scala:677-1091 and the
site/alternative builder Disambiguator.scala:105-208):

  - overlap *sites*: mentions whose token spans overlap are grouped
    (AmbiguityForest.scala:574-619);
  - *alternatives*: maximal non-overlapping segmentations of a site
    (AmbiguitySiteBuilder.buildSite, Disambiguator.scala:126-206);
  - candidate *support*: topic-topic compatibility through shared
    contexts (w1*w2) plus direct topic-as-context links
    (AmbiguityForest.scala:832-875), excluding same-site pairs (:783-784);
  - resolution is the reference's GREEDY PRUNE loop (:912-981): the
    globally lowest-scored candidate of any still-ambiguous mention is
    eliminated and its contribution subtracted from every peer's
    support (downWeightPeers :220-250; removeTopic's last-candidate
    guard :207-217), repeated until one candidate per mention — this
    propagates corrections through chained ambiguity, which the earlier
    fixed-round rescoring could not (gated by
    tests/test_resolver_greedy.py); then the best alternative per site
    wins by (token coverage, score) — the coverage tiebreak mirrors the
    reference's longest-match ordering (end desc, start asc sort at
    Disambiguator.scala:550-560);
  - predicates: the deterministic gap-token pattern rules
    (careers_spark.synth.PRED_PATTERNS) applied between adjacent resolved
    mentions in the same turn — the "dependency-pattern triple extraction
    in the same batched UDF pass" of the north star.

Runs as a cogrouped applyInPandas over (candidates, turns) keyed by
conv_id — the conversation IS the coherence window, so no cross-group
state exists and the stage parallelizes embarrassingly.

Performance posture (the stage is the pipeline's only Python hot path):

  - context vectors are INTERNED on the driver (topic/context strings ->
    int ids, vectors -> sorted numpy arrays) and broadcast once; ids are
    assigned in lexicographic order so integer comparisons reproduce the
    reference's name-ordered tie-breaks exactly;
  - topic-pair similarities are memoized in a worker-lifetime cache on
    the broadcast object (pairs repeat massively across conversations —
    the per-conversation cache of round 1 wasted that reuse);
  - candidate batches are processed as numpy column slices (lexsort +
    boundary splits), not per-row python tuples;
  - turn text is only tokenized for turns holding >= 2 chosen mentions
    (gap-pattern extraction needs nothing else), and the transcripts
    side of the cogroup is pre-filtered to those turns with a slim
    semi-join so unneeded text never rides the shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from careers_spark.functions.text import tokenize_py
from careers_spark.synth import PRED_PATTERNS

RESOLVED_SCHEMA = (
    "conv_id string, turn_idx int, kind string, start int, end int, "
    "surface string, topic string, score double, pred string, obj string"
)

# int-coded wire schema: when global surface/topic id dims are available
# (coded mode), only small ints cross the cogroup shuffle and the Arrow
# boundary in BOTH directions; names are broadcast-joined back JVM-side.
# The resolver's Arrow string traffic was the dominant scaling cost of
# the stage (r2 executor-curve decomposition).
RESOLVED_CODED_SCHEMA = (
    "conv_id string, turn_idx int, kind string, start int, end int, "
    "surf_id int, topic_id int, score double, pred string, obj_id int"
)

_EPS = 1e-6
_SIM_CACHE_MAX = 4_000_000  # worker-heap guard: ~64B/entry -> ~256MB cap


class InternedContexts:
    """Broadcastable interned form of the per-topic context vectors.

    Ids cover every string that is a topic OR appears inside a context
    vector; they are assigned in sorted order so `id_a < id_b` iff
    `name_a < name_b` (the resolver's tie-breaks are name-ordered).
    The pair-sim cache lives on the instance: one deserialized copy per
    python worker serves every batch of the stage.
    """

    def __init__(self, ctx_map: dict[str, dict[str, float]]):
        names = sorted(set(ctx_map) | {c for v in ctx_map.values() for c in v})
        self.names = names
        self.tid = {n: i for i, n in enumerate(names)}
        n = len(names)
        empty_i = np.empty(0, np.int64)
        empty_w = np.empty(0, np.float64)
        self.ids: list[np.ndarray] = [empty_i] * n
        self.ws: list[np.ndarray] = [empty_w] * n
        for name, vec in ctx_map.items():
            if not vec:
                continue
            i = self.tid[name]
            pairs = sorted((self.tid[c], float(w)) for c, w in vec.items())
            self.ids[i] = np.fromiter((p[0] for p in pairs), np.int64, len(pairs))
            self.ws[i] = np.fromiter((p[1] for p in pairs), np.float64, len(pairs))
        self._cache: dict[int, float] = {}

    def __getstate__(self):
        d = self.__dict__.copy()
        d["_cache"] = {}
        return d

    def sim(self, a: int, b: int) -> float:
        """Topic-topic compatibility (AmbiguityForest.scala:832-875):
        shared-context w*w plus direct topic-as-context links. a/b are
        interned ids; -1 means "not in the interning space" (no contexts
        and never a context) — sim is identically 0 there."""
        if a == b or a < 0 or b < 0:
            return 0.0
        key = (a << 32) | b if a < b else (b << 32) | a
        cache = self._cache
        v = cache.get(key)
        if v is not None:
            return v
        ia, wa = self.ids[a], self.ws[a]
        ib, wb = self.ids[b], self.ws[b]
        s = 0.0
        if len(ia) and len(ib):
            _, ka, kb = np.intersect1d(ia, ib, assume_unique=True, return_indices=True)
            if len(ka):
                s += float(wa[ka] @ wb[kb])
        # direct links: b in ctx(a), a in ctx(b)
        if len(ia):
            p = np.searchsorted(ia, b)
            if p < len(ia) and ia[p] == b:
                s += float(wa[p])
        if len(ib):
            p = np.searchsorted(ib, a)
            if p < len(ib) and ib[p] == a:
                s += float(wb[p])
        if len(cache) >= _SIM_CACHE_MAX:
            cache.clear()
        cache[key] = s
        return s


def build_id_dims(spark, surface_names: list[str], topic_names: list[str]):
    """(surface_dim, topic_dim) DataFrames with global LEXICOGRAPHIC int
    ids — id order == name order, preserving name-ordered tie-breaks.
    Built via pandas+Arrow (a py4j list of 100k+ tuples costs seconds of
    driver time per run). Callers must pass sorted, de-duplicated names
    (the KGModel universes are)."""
    surface_dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "surf_id": np.arange(len(surface_names), dtype=np.int32),
                "surface": surface_names,
            }
        ),
        schema="surf_id int, surface string",
    )
    topic_dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "topic_id": np.arange(len(topic_names), dtype=np.int32),
                "topic": topic_names,
            }
        ),
        schema="topic_id int, topic string",
    )
    return surface_dim, topic_dim


def _build_sites(
    spans: list[tuple[int, int, int]], presorted: bool = False
) -> list[list[int]]:
    """Group mention indices into overlap sites. spans: (turn, start, end).
    presorted=True skips the sort when the caller built spans in
    (turn, start, end) order already (the resolver does — mention
    boundaries come from rows sorted on exactly that key)."""
    if presorted:
        order: "range | list[int]" = range(len(spans))
    else:
        order = sorted(
            range(len(spans)), key=lambda i: (spans[i][0], spans[i][1], spans[i][2])
        )
    sites: list[list[int]] = []
    cur: list[int] = []
    cur_turn, cur_end = None, -1
    for i in order:
        t, s, e = spans[i]
        if cur and t == cur_turn and s <= cur_end:
            cur.append(i)
            cur_end = max(cur_end, e)
        else:
            if cur:
                sites.append(cur)
            cur = [i]
            cur_turn, cur_end = t, e
    if cur:
        sites.append(cur)
    return sites


def _alternatives(site: list[int], spans: list[tuple[int, int, int]]) -> list[list[int]]:
    """Enumerate maximal non-overlapping segmentations of one site
    (the gap-free alternative enumeration of Disambiguator.scala:126-206,
    golden-tested in the reference at testDisambiguator.scala:565-630)."""
    if len(site) == 1:
        # singleton site: the only segmentation is the mention itself.
        # The overwhelmingly common case (most mentions overlap nothing)
        # — profiled at a third of the resolve stage when it went
        # through the recursive enumeration below.
        return [list(site)]
    if len(site) == 2:
        # two members of one site overlap by construction, so the only
        # maximal segmentations are the two singletons (same output,
        # ordering included, as the enumeration below)
        a, b = sorted(site)
        return [[a], [b]]
    members = sorted(site, key=lambda i: (spans[i][1], -spans[i][2]))
    alts: list[list[int]] = []

    def rec(chosen: list[int], last_end: int) -> None:
        ext = [j for j in members if spans[j][1] > last_end]
        if not ext:
            alts.append(list(chosen))
            return
        for j in ext:
            # gap-free: no member span may fit entirely between the last
            # chosen span and this one (else the segmentation is not
            # maximal — the reference's buildSite never emits those;
            # golden-ported verbatim in tests/test_segmentation_golden.py)
            s_j = spans[j][1]
            if any(
                spans[k][1] > last_end and spans[k][2] < s_j for k in ext
            ):
                continue
            chosen.append(j)
            rec(chosen, spans[j][2])
            chosen.pop()

    if len(members) > 12:
        # pathological site: greedy longest-match fallback keeps the
        # enumeration bounded (site sizes this large do not occur in the
        # reference's corpus either — maxNumberOfWords guard at
        # AmbiguityForest.scala:105)
        greedy: list[int] = []
        pos = -1
        for i in sorted(members, key=lambda i: (spans[i][1], -spans[i][2])):
            if spans[i][1] > pos:
                greedy.append(i)
                pos = spans[i][2]
        return [greedy]

    rec([], -1)
    # dedupe
    uniq = {tuple(a) for a in alts}
    return [list(a) for a in sorted(uniq)]


def _conv_windows(
    lo: int,
    hi: int,
    turn: list,
    start: list,
    end: list,
    cap: int,
) -> list[tuple[int, int]]:
    """Split one conversation's candidate rows [lo, hi) into coherence
    windows of at most `cap` rows — the per-conversation cost guard.

    The reference bounds document size outright (maxNumberOfWords=3000,
    AmbiguityForest.scala:105: everything past the cap is DROPPED). The
    resolver's support pass and greedy elimination are O(rows^2) per
    window, so an unguarded 50k-mention conversation would stall one
    task for minutes; windowing makes total cost O(rows * cap) while —
    unlike the reference's truncation — still resolving EVERY mention,
    just with coherence support restricted to the window.

    Split points prefer TURN boundaries: overlap sites never span turns
    (spans only overlap within a turn, _build_sites), and gap-pattern
    triples pair adjacent mentions of the same turn, so a turn-boundary
    split changes nothing but the support neighborhood. A single turn
    exceeding `cap` rows is further split at SITE boundaries (rows are
    (turn, start, end)-sorted, so a site is a contiguous row run); only
    cross-site adjacency triples at that cut are lost, strictly less
    than the reference dropping the tail wholesale. A single SITE
    larger than `cap` stays whole — segmentation alternatives must see
    the entire site (the >12-member greedy fallback in _alternatives
    already bounds enumeration there).
    """
    if hi - lo <= cap:
        return [(lo, hi)]
    # contiguous same-turn row runs
    runs: list[tuple[int, int]] = []
    r0 = lo
    for r in range(lo + 1, hi):
        if turn[r] != turn[r - 1]:
            runs.append((r0, r))
            r0 = r
    runs.append((r0, hi))

    def split_turn_run(a: int, b: int) -> list[tuple[int, int]]:
        # site boundaries inside one turn: a new site begins where the
        # next span starts past the running overlap end
        bounds = [a]
        cur_end = end[a]
        for r in range(a + 1, b):
            if start[r] > cur_end:
                bounds.append(r)
                cur_end = end[r]
            else:
                cur_end = max(cur_end, end[r])
        bounds.append(b)
        wins: list[tuple[int, int]] = []
        wlo = bounds[0]
        for i in range(1, len(bounds) - 1):
            if bounds[i + 1] - wlo > cap and bounds[i] > wlo:
                wins.append((wlo, bounds[i]))
                wlo = bounds[i]
        wins.append((wlo, b))
        return wins

    windows: list[tuple[int, int]] = []
    wlo = -1
    for a, b in runs:
        if b - a > cap:
            if wlo >= 0:
                windows.append((wlo, a))
                wlo = -1
            windows.extend(split_turn_run(a, b))
            continue
        if wlo < 0:
            wlo = a
        elif b - wlo > cap:
            windows.append((wlo, a))
            wlo = a
    if wlo >= 0:
        windows.append((wlo, hi))
    return windows


# Window size where the dense sim-matrix path replaces the scalar loop.
# Deployment knob (KG_DENSE_MIN_ROWS): the dense path trades python-op
# count for MEMORY BANDWIDTH (matvecs + gathers stream G^2 floats), so
# its win depends on topology — on an executor with its own socket it
# is strictly faster (2x at 90 rows to 25x at 3000, measured), while on
# a single shared-socket host running many executors the bandwidth is
# contended and the scalar loop's cache-friendly probes can match it
# (observed: E=4 x 2-core on one socket, resolved 148s scalar vs 160s
# dense at 16.4M turns). Raise the threshold on bandwidth-starved
# shared hosts; the default favors real multi-node clusters.
#
# Default 64 since r5, lowered from 192 on corpus evidence (BENCH/
# BASELINE.md "Dense-resolver study"): on a 30-60-turn-conversation
# corpus whose windows sit exactly in the 64-192-row band the dense
# path is 2.3x on the resolved stage (21.3 -> 9.2 s, E=4, 540k turns)
# with order-insensitive-identical triples; on the 120-1500-turn
# corpus it is 22-25x. Windows below 64 rows stay on the scalar loop —
# the bit-exact reference path every golden conversation rides
# (goldens are all far below 64 candidate rows).
import os as _os

_DENSE_MIN_ROWS = int(_os.environ.get("KG_DENSE_MIN_ROWS", "64"))


def _dense_support_and_prune(
    lo: int,
    hi: int,
    topic_code: list,
    topic_gid: list,
    prior: list,
    row_site: list,
    row_mention: list,
    m_first: list,
    ctx: InternedContexts,
):
    """Vectorized support + greedy elimination for LARGE coherence
    windows (the r3-verdict item-8 profile): build the window's distinct
    topic-pair sim matrix ONCE (G^2/2 cached sim() calls, G = distinct
    topics — candidates repeat topics across mentions, so G << rows),
    then the O(rows^2) support pass becomes one G-dim matvec plus
    per-site corrections, and each greedy elimination is one fancy-index
    subtraction instead of a python scan.

    Same semantics as the scalar loops in _resolve_conv, which remain
    the bit-exact reference path for ordinary conversations: float
    summation ORDER differs here (matvec vs row-order loop), so only
    windows >= _DENSE_MIN_ROWS — far above every golden — take this
    path. Equivalence is pinned by test_resolver_guard.py
    (dense == scalar winners on a mixed-sim window).

    Returns (supp ndarray, active bool ndarray) for the shared
    final-selection code.
    """
    codes = np.asarray(topic_code[lo:hi], np.int64)
    gids = np.asarray(topic_gid[lo:hi], np.int64)
    p = np.asarray(prior[lo:hi], np.float64)
    sites_a = np.asarray(row_site, np.int64)
    ment_a = np.asarray(row_mention, np.int64)

    u, first_idx, inv = np.unique(codes, return_index=True, return_inverse=True)
    ug = gids[first_idx]
    G = len(u)
    sim = ctx.sim
    S = np.zeros((G, G), np.float64)
    for i in range(G):
        gi_ = int(ug[i])
        row = S[i]
        for j in range(i + 1, G):
            s = sim(gi_, int(ug[j]))
            if s:
                row[j] = s
                S[j, i] = s

    # support state is PER-TOPIC, not per-row: supp[r] == tot[inv[r]] -
    # corr[r], where tot = S @ (per-topic prior mass) over the whole
    # window and corr[r] is r's own site's contribution — the same-site
    # exclusion of AmbiguityForest.scala:783-784. S's zero diagonal
    # makes the r2 == r and same-topic terms vanish exactly as
    # sim(a, a) == 0 does. An elimination then writes O(G + site)
    # floats (tot -= S[:, w]*p_w; the worst's own site's corr likewise)
    # instead of O(rows) — the per-row write stream was the dense
    # path's memory-bandwidth hot spot under executor concurrency.
    q = np.bincount(inv, weights=p, minlength=G)
    tot = S @ q
    corr = np.zeros(hi - lo, np.float64)
    order = np.argsort(sites_a, kind="stable")
    bounds = np.flatnonzero(np.diff(sites_a[order])) + 1
    segs = np.split(order, bounds)
    site_rows = {}
    for seg in segs:
        inv_s = inv[seg]
        corr[seg] = S[np.ix_(inv_s, inv_s)] @ p[seg]
        site_rows[int(sites_a[seg[0]])] = seg

    # greedy elimination, same key as the scalar loop:
    # min (prior * (eps + supp)), ties remove the LARGER topic code
    n = len(m_first) - 1
    counts = np.bincount(ment_a, minlength=n)
    active = np.ones(hi - lo, bool)
    n_multi = int(np.sum(counts > 1))
    while n_multi > 0:
        elig = np.flatnonzero(active & (counts[ment_a] > 1))
        scores = p[elig] * (_EPS + tot[inv[elig]] - corr[elig])
        m = scores.min()
        tied = elig[scores == m]
        worst = int(tied[np.argmax(codes[tied])])
        active[worst] = False
        mi = int(ment_a[worst])
        counts[mi] -= 1
        if counts[mi] == 1:
            n_multi -= 1
        iw, pw_ = inv[worst], p[worst]
        tot -= S[:, iw] * pw_
        # same-site rows never saw the worst's support, so their corr
        # drops in lock-step with tot and their supp stays put
        seg = site_rows[int(sites_a[worst])]
        corr[seg] -= S[inv[seg], iw] * pw_
    return tot[inv] - corr, active


def _resolve_conv(
    conv_id: str,
    lo: int,
    hi: int,
    turn: list,
    start: list,
    end: list,
    surf_code: list,
    topic_code: list,
    topic_gid: list,
    prior: list,
    turns_text: dict[int, str],
    ctx: InternedContexts,
    out_rows: list[tuple],
    distance_weighting: bool = False,
    dense_min_rows: int | None = None,
) -> None:
    """Resolve one conversation from the batch's presorted column LISTS
    (rows [lo, hi)). Plain-python lists, not numpy slices — per-element
    ndarray indexing boxes a numpy scalar per access, which measurably
    dominates at one row per microsecond; tolist() happens once per
    batch in the caller. Rows are sorted by (turn, start, end,
    topic_code); topic_code is a LEXICOGRAPHIC id space (batch-local
    factorize in legacy mode, the global dictionary id in coded mode —
    either way id order == name order, so integer comparisons reproduce
    the reference's name-ordered tie-breaks), topic_gid the interned ctx
    id (-1 when unknown). Appends code-valued rows (surf/topic/obj as
    ints) to out_rows; the caller maps codes to names (legacy) or ships
    them as-is for a JVM-side broadcast name join (coded).
    """
    # --- mention boundaries (same (turn,start,end) -> one mention) --------
    m_first: list[int] = [lo]
    for r in range(lo + 1, hi):
        if turn[r] != turn[r - 1] or start[r] != start[r - 1] or end[r] != end[r - 1]:
            m_first.append(r)
    m_first.append(hi)
    n = len(m_first) - 1

    spans = [(turn[m_first[i]], start[m_first[i]], end[m_first[i]])
             for i in range(n)]
    sites = _build_sites(spans, presorted=True)
    site_of = [0] * n
    for si, site in enumerate(sites):
        for i in site:
            site_of[i] = si

    sim = ctx.sim

    # --- initial support against prior-weighted peers ----------------------
    # peers: every candidate row, tagged with its mention's site
    row_site = [0] * (hi - lo)
    row_mention = [0] * (hi - lo)
    for i in range(n):
        for r in range(m_first[i], m_first[i + 1]):
            row_site[r - lo] = site_of[i]
            row_mention[r - lo] = i

    # W2 — Normal-pdf mention-distance weighting (AmbiguityForest.scala:
    # 806-811): distanceWeight = 0.2 + N(0,5).density(d)/density(0)
    # [+ 0.0 * the sigma=10 term, coefficient zero in the reference] with
    # d = difference of span token centers. The reference computes it but
    # multiplies it OUT (`linkWeight //* distanceWeight`, :811), so the
    # default here is OFF and flag-off output is bit-identical. Mentions
    # in different turns have no shared token axis; the Gaussian at any
    # cross-turn distance is ~0, so they take the 0.2 floor.
    dw = None
    if distance_weighting:
        from math import exp

        cen = [(start[r] + end[r]) / 2.0 for r in range(lo, hi)]

        def dw(rl: int, r2l: int) -> float:
            if turn[lo + rl] != turn[lo + r2l]:
                return 0.2
            d = cen[rl] - cen[r2l]
            return 0.2 + exp(-d * d / 50.0)

    if dense_min_rows is None:
        dense_min_rows = _DENSE_MIN_ROWS
    if dw is None and hi - lo >= dense_min_rows:
        supp, active = _dense_support_and_prune(
            lo, hi, topic_code, topic_gid, prior,
            row_site, row_mention, m_first, ctx,
        )
    else:
        supp = [0.0] * (hi - lo)
        for r in range(lo, hi):
            s = 0.0
            gr = topic_gid[r]
            sr = row_site[r - lo]
            if dw is None:
                for r2 in range(lo, hi):
                    if row_site[r2 - lo] == sr:
                        continue  # same-site exclusion (AmbiguityForest.scala:783-784)
                    s += sim(gr, topic_gid[r2]) * prior[r2]
            else:
                for r2 in range(lo, hi):
                    if row_site[r2 - lo] == sr:
                        continue
                    s += sim(gr, topic_gid[r2]) * prior[r2] * dw(r - lo, r2 - lo)
            supp[r - lo] = s

        # --- greedy elimination with peer down-weighting -------------------
        # The reference's pruneOutAlternatives topic loop
        # (AmbiguityForest.scala:948-981): a priority queue pops the globally
        # LOWEST-weight candidate; it is removed unless it is its mention's
        # last (removeTopic, :207-217), and its contribution is subtracted
        # from every peer's weight (downWeightPeers, :220-250). Repeating to
        # one candidate per mention propagates corrections through CHAINS of
        # ambiguity (A's winner depends on B's, B's on C's) — a fixed number
        # of rescoring rounds cannot. Candidate score = prior * (eps +
        # remaining support), the same scoring shape both phases here use.
        active = [True] * (hi - lo)
        n_active = [m_first[i + 1] - m_first[i] for i in range(n)]
        n_multi = sum(1 for c in n_active if c > 1)
        while n_multi > 0:
            # globally lowest-scored candidate among multi-candidate
            # mentions; ties remove the LARGER topic code so the smallest
            # name survives (reference name-ordered tie-break)
            worst_r, worst_key = -1, None
            for r in range(lo, hi):
                rl = r - lo
                if not active[rl] or n_active[row_mention[rl]] < 2:
                    continue
                key = (prior[r] * (_EPS + supp[rl]), -topic_code[r])
                if worst_key is None or key < worst_key:
                    worst_key, worst_r = key, r
            rl = worst_r - lo
            active[rl] = False
            mi = row_mention[rl]
            n_active[mi] -= 1
            if n_active[mi] == 1:
                n_multi -= 1
            gw, pw, sw = topic_gid[worst_r], prior[worst_r], row_site[rl]
            if dw is None:
                for r2 in range(lo, hi):
                    r2l = r2 - lo
                    if not active[r2l] or row_site[r2l] == sw:
                        continue
                    supp[r2l] -= sim(topic_gid[r2], gw) * pw
            else:
                for r2 in range(lo, hi):
                    r2l = r2 - lo
                    if not active[r2l] or row_site[r2l] == sw:
                        continue
                    supp[r2l] -= sim(topic_gid[r2], gw) * pw * dw(r2l, rl)

    final_code = [0] * n
    final_score = [0.0] * n
    for i in range(n):
        for r in range(m_first[i], m_first[i + 1]):
            if active[r - lo]:
                final_code[i] = topic_code[r]
                final_score[i] = prior[r] * (_EPS + supp[r - lo])
                break

    # --- pick best alternative per site (coverage, then score) ------------
    chosen: list[int] = []
    for site in sites:
        if len(site) == 1:
            chosen.append(site[0])  # only one segmentation exists
            continue
        alts = _alternatives(site, spans)
        best_alt, best_key = None, None
        for alt in alts:
            coverage = sum(spans[i][2] - spans[i][1] + 1 for i in alt)
            score = sum(final_score[i] for i in alt)
            key = (coverage, score, tuple(alt))
            if best_key is None or key > best_key:
                best_key, best_alt = key, alt
        chosen.extend(best_alt)

    chosen.sort(key=lambda i: (spans[i][0], spans[i][1]))
    for i in chosen:
        t, s, e = spans[i]
        out_rows.append(
            (
                conv_id, t, "link", s, e,
                surf_code[m_first[i]],
                final_code[i],
                final_score[i], None, None,
            )
        )

    # --- triple extraction over adjacent resolved mentions ----------------
    by_turn: dict[int, list[int]] = {}
    for i in chosen:
        by_turn.setdefault(spans[i][0], []).append(i)
    for t, idxs in by_turn.items():
        if len(idxs) < 2:
            continue  # no adjacent pair -> no gap to inspect (skip tokenize)
        toks = tokenize_py(turns_text.get(t, ""))
        idxs.sort(key=lambda i: spans[i][1])
        for a, b in zip(idxs, idxs[1:]):
            gap = " ".join(toks[spans[a][2] + 1: spans[b][1]])
            pred = PRED_PATTERNS.get(gap)
            if pred is not None:
                out_rows.append(
                    (
                        conv_id, t, "triple",
                        spans[a][1], spans[b][2],
                        surf_code[m_first[a]],
                        final_code[a],
                        final_score[a], pred,
                        final_code[b],
                    )
                )


_CODE_COLS = [
    "conv_id", "turn_idx", "kind", "start", "end",
    "surf_id", "topic_id", "score", "pred", "obj_id",
]


def _rows_to_pdf_coded(rows: list[tuple]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=_CODE_COLS)
    for c in ("turn_idx", "start", "end", "surf_id", "topic_id"):
        pdf[c] = pdf[c].astype("int32")
    # obj_id is null on link rows -> nullable Int32 for the Arrow cast
    pdf["obj_id"] = pdf["obj_id"].astype("Int32")
    pdf["score"] = pdf["score"].astype("float64")
    return pdf


def _rows_to_pdf_named(
    rows: list[tuple], surf_names: np.ndarray, topic_names: np.ndarray
) -> pd.DataFrame:
    """Legacy string-output path: map the batch-local codes back to
    names python-side (one vectorized take per column)."""
    pdf = pd.DataFrame(rows, columns=_CODE_COLS)
    out = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"],
            "turn_idx": pdf["turn_idx"].astype("int32"),
            "kind": pdf["kind"],
            "start": pdf["start"].astype("int32"),
            "end": pdf["end"].astype("int32"),
            "surface": (
                surf_names[pdf["surf_id"].to_numpy(np.int64)]
                if len(pdf) else pd.Series([], dtype=object)
            ),
            "topic": (
                topic_names[pdf["topic_id"].to_numpy(np.int64)]
                if len(pdf) else pd.Series([], dtype=object)
            ),
            "score": pdf["score"].astype("float64"),
            "pred": pdf["pred"],
            "obj": (
                pd.Series(
                    [
                        None if pd.isna(v) else topic_names[int(v)]
                        for v in pdf["obj_id"]
                    ],
                    index=pdf.index,
                    dtype=object,
                )
                if len(pdf) else pd.Series([], dtype=object)
            ),
        }
    )
    return out


def resolve(
    candidates: DataFrame,
    transcripts: DataFrame,
    context_vectors,  # DataFrame (topic, ctx_ids, ctx_ws) | dict | InternedContexts
    n_buckets: int | None = None,
    mention_spans: DataFrame | None = None,
    surface_names: list[str] | None = None,
    topic_names: list[str] | None = None,
    max_rows_per_conv: int = 3000,
    distance_weighting: bool = False,
    dense_min_rows: int | None = None,
) -> DataFrame:
    """Cogrouped per-conversation resolution, bucket-batched.

    candidates: output of linking.attach_candidates — slim rows only
        (conv_id, turn_idx, start, end, surface, topic, prior); context
        vectors ride a BROADCAST, not the shuffle (carrying 30-element
        arrays per candidate row multiplied shuffle volume ~10x and made
        this stage I/O-bound).
    transcripts: (conv_id, turn_idx, text) — needed for gap tokens; only
        turns carrying >= 2 mention spans are shipped (slim semi-join —
        chosen mentions are a subset of mention spans, so the gap pass
        never needs the others).
    context_vectors: (topic, ctx_ids, ctx_ws) dimension table
    Returns the unified link/triple frame (RESOLVED_SCHEMA).

    Conversations are independent, so they are grouped into hash buckets
    and one pandas group carries many conversations — this amortizes the
    per-group Arrow/Python round-trip that dominates at small group
    sizes (same motivation as the reference loading its model once per
    task, not once per record). n_buckets should be a few times the
    core count but small enough that a bucket's conversations fit in
    worker memory; default 16x shuffle partitions.

    surface_names/topic_names: the COMPLETE dictionary universes of
    candidate surfaces and topics (e.g. from the KGModel). When both are
    given, the stage runs in CODED mode: candidates are broadcast-joined
    to global lexicographic int ids before the cogroup shuffle, only
    ints cross the Arrow boundary in both directions, and names are
    broadcast-joined back JVM-side afterwards. Output schema is
    identical either way; ids are assigned in sorted order, so the
    integer tie-breaks match the legacy per-batch factorization exactly.

    max_rows_per_conv: per-conversation cost guard (the reference's
    maxNumberOfWords=3000 analogue, AmbiguityForest.scala:105) —
    conversations with more candidate rows are resolved in turn-aligned
    coherence windows of at most this many rows (_conv_windows), keeping
    the O(rows^2) support/elimination passes bounded per window.

    distance_weighting: W2 — the reference's Normal-pdf mention-distance
    link weighting (AmbiguityForest.scala:806-811). Default OFF for
    parity: the reference computes the weight but multiplies it out
    (`linkWeight //* distanceWeight`, :811).

    dense_min_rows: window size where the dense sim-matrix path
    replaces the scalar loop (None -> the module default / the
    KG_DENSE_MIN_ROWS env knob). Pickled into the UDF closure, so it
    reaches python workers regardless of their import-time env —
    tests use it to pin dense == scalar through the real stage.
    """
    from pyspark.sql import functions as F

    spark = candidates.sparkSession
    if n_buckets is None:
        n_buckets = 16 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if isinstance(context_vectors, InternedContexts):
        interned = context_vectors
    elif isinstance(context_vectors, dict):
        interned = InternedContexts(context_vectors)
    else:
        interned = InternedContexts(
            {
                r.topic: dict(zip(list(r.ctx_ids), list(r.ctx_ws)))
                for r in context_vectors.select("topic", "ctx_ids", "ctx_ws").collect()
            }
        )

    coded = surface_names is not None and topic_names is not None
    if coded:
        # sorted ids: id order == name order (tie-break contract)
        surface_names = sorted(set(surface_names))
        topic_names = sorted(set(topic_names))
        gid_lut = np.fromiter(
            (interned.tid.get(t, -1) for t in topic_names),
            np.int64,
            len(topic_names),
        )
        # SLIM worker broadcast: coded workers call ctx.sim only — the
        # names list (hundreds of thousands of python strings) and the
        # tid dict exist solely for driver-side interning/legacy mode.
        # Every python worker unpickles its own broadcast copy, so
        # shipping them multiplies deserialization time and resident
        # footprint by the worker count (bandwidth pressure at scale).
        slim = InternedContexts.__new__(InternedContexts)
        slim.names = None
        slim.tid = None
        slim.ids = interned.ids
        slim.ws = interned.ws
        slim._cache = {}
        ctx_bc = spark.sparkContext.broadcast((slim, gid_lut))
        surface_dim, topic_dim = build_id_dims(spark, surface_names, topic_names)
    else:
        ctx_bc = spark.sparkContext.broadcast((interned, None))

    # only turns that can yield a gap pattern need their text shipped.
    # Eligibility comes from the (cheap, usually checkpointed) mention
    # spans when provided — deriving it from `candidates` would evaluate
    # the candidate DAG twice when linking carries the TF-IDF joins.
    spans_src = mention_spans if mention_spans is not None else candidates
    eligible_turns = (
        spans_src.groupBy("conv_id", "turn_idx")
        .agg(F.countDistinct("start", "end").alias("nm"))
        .filter(F.col("nm") >= 2)
        .select("conv_id", "turn_idx")
    )
    turns_slim = transcripts.select("conv_id", "turn_idx", "text").join(
        eligible_turns, ["conv_id", "turn_idx"], "left_semi"
    )

    # explicit hash repartition on `bucket`: AQE coalesces the cogroup
    # shuffle to its 1 MB minimum partition size, which at the usual
    # sub-MB volume put the whole python resolver in ONE task. A
    # repartition with an explicit count is never coalesced, and the
    # cogroup reuses it as its required distribution (no extra shuffle);
    # n_buckets still bounds the conversations per pandas group.
    n_parts = spark.sparkContext.defaultParallelism
    bucket = lambda df: df.withColumn(  # noqa: E731
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
    ).repartition(n_parts, "bucket")

    _EMPTY_NAMES = np.empty(0, dtype=object)

    def fn(cand_pdf: pd.DataFrame, turns_pdf: pd.DataFrame) -> pd.DataFrame:
        ctx, lut = ctx_bc.value
        if not len(cand_pdf):
            return (
                _rows_to_pdf_coded([])
                if coded
                else _rows_to_pdf_named([], _EMPTY_NAMES, _EMPTY_NAMES)
            )

        conv_code, conv_names = pd.factorize(cand_pdf["conv_id"], sort=True)
        if coded:
            surf_code = cand_pdf["surf_id"].to_numpy(np.int64)
            topic_code = cand_pdf["topic_id"].to_numpy(np.int64)
            surf_names_b = topic_names_b = None
        else:
            # sort=True makes integer code order == lexicographic name
            # order, preserving the reference's name-ordered tie-breaks
            surf_code, surf_names_b = pd.factorize(cand_pdf["surface"], sort=True)
            topic_code, topic_names_b = pd.factorize(cand_pdf["topic"], sort=True)
            tid = ctx.tid
            lut = np.fromiter(
                (tid.get(t, -1) for t in topic_names_b),
                np.int64,
                len(topic_names_b),
            )

        turn = cand_pdf["turn_idx"].to_numpy(np.int64)
        start = cand_pdf["start"].to_numpy(np.int64)
        end = cand_pdf["end"].to_numpy(np.int64)
        prior = cand_pdf["prior"].to_numpy(np.float64)

        order = np.lexsort((topic_code, end, start, turn, conv_code))
        conv_code = conv_code[order]
        topic_gid = lut[topic_code[order]]

        # one vectorized tolist() per column: the per-conversation loops
        # index elements constantly, and list indexing beats boxing a
        # numpy scalar per access by ~5x
        turn_l = turn[order].tolist()
        start_l = start[order].tolist()
        end_l = end[order].tolist()
        surf_l = surf_code[order].tolist()
        topic_l = topic_code[order].tolist()
        gid_l = topic_gid.tolist()
        prior_l = prior[order].tolist()

        # turn texts per conversation (only eligible turns arrive)
        texts_by_conv: dict[str, dict[int, str]] = {}
        if len(turns_pdf):
            for c, ti, tx in zip(
                turns_pdf["conv_id"].to_numpy(),
                turns_pdf["turn_idx"].to_numpy(),
                turns_pdf["text"].to_numpy(),
            ):
                texts_by_conv.setdefault(c, {})[int(ti)] = tx

        # conversation boundaries in the sorted batch
        bounds = np.flatnonzero(np.diff(conv_code)) + 1
        starts = np.concatenate(([0], bounds, [len(conv_code)]))

        rows: list[tuple] = []
        for k in range(len(starts) - 1):
            lo, hi = int(starts[k]), int(starts[k + 1])
            cid = conv_names[conv_code[lo]]
            texts = texts_by_conv.get(cid, {})
            for wlo, whi in _conv_windows(
                lo, hi, turn_l, start_l, end_l, max_rows_per_conv
            ):
                _resolve_conv(
                    cid, wlo, whi,
                    turn_l, start_l, end_l,
                    surf_l,
                    topic_l, gid_l,
                    prior_l,
                    texts,
                    ctx,
                    rows,
                    distance_weighting=distance_weighting,
                    dense_min_rows=dense_min_rows,
                )
        if coded:
            return _rows_to_pdf_coded(rows)
        return _rows_to_pdf_named(
            rows,
            np.asarray(surf_names_b, dtype=object),
            np.asarray(topic_names_b, dtype=object),
        )

    if coded and "surf_id" in candidates.columns:
        # candidates already dictionary-coded upstream
        # (linking.attach_candidates_coded) — nothing to join
        cand_in = candidates.select(
            "conv_id", "turn_idx", "start", "end", "surf_id", "topic_id", "prior"
        )
    elif coded:
        cand_in = (
            candidates.select(
                "conv_id", "turn_idx", "start", "end", "surface", "topic", "prior"
            )
            .join(F.broadcast(surface_dim), "surface")
            .join(F.broadcast(topic_dim), "topic")
            .select(
                "conv_id", "turn_idx", "start", "end", "surf_id", "topic_id", "prior"
            )
        )
    else:
        cand_in = candidates.select(
            "conv_id", "turn_idx", "start", "end", "surface", "topic", "prior"
        )

    out = (
        bucket(cand_in)
        .groupby("bucket")
        .cogroup(bucket(turns_slim).groupby("bucket"))
        .applyInPandas(
            fn, schema=RESOLVED_CODED_SCHEMA if coded else RESOLVED_SCHEMA
        )
    )
    if coded:
        obj_dim = topic_dim.select(
            F.col("topic_id").alias("obj_id"), F.col("topic").alias("obj")
        )
        out = (
            out.join(F.broadcast(surface_dim), "surf_id")
            .join(F.broadcast(topic_dim), "topic_id")
            .join(F.broadcast(obj_dim), "obj_id", "left")
            .select(
                "conv_id", "turn_idx", "kind", "start", "end",
                "surface", "topic", "score", "pred", "obj",
            )
        )
    return out


def links_of(resolved: DataFrame) -> DataFrame:
    return resolved.filter("kind = 'link'").select(
        "conv_id", "turn_idx", "start", "end", "surface", "topic", "score"
    )


def triples_of(resolved: DataFrame) -> DataFrame:
    return resolved.filter("kind = 'triple'").selectExpr(
        "conv_id", "turn_idx", "topic as subj", "pred", "obj"
    )
