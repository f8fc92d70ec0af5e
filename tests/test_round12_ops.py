"""Round-12 operator twins (VERDICT r11 'next' #4: exact twins for the
weak-only SURVEY rows C11/C99/C114/C87)."""

from __future__ import annotations

import hashlib
import math
import os

from etl_arcgis_spark.tables import table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def test_grouped_hll_matches_python_register_twin(spark):
    """C11 twin: recompute the 256-register HLL per group in pure
    python from md5 and compare registers, estimate, and the true
    distinct — the whole pipeline, not just bounds."""
    from etl_arcgis_spark.operators.aggregates import (
        _HLL_ALPHA,
        _HLL_M,
        agg_approx_distinct_grouped_hll,
    )

    rows = table(spark, SF, "orders").select("o_orderstatus", "o_custkey").collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["o_orderstatus"], set()).add(r["o_custkey"])
    expect = {}
    for g, keys in groups.items():
        reg: dict = {}
        for k in keys:
            h = hashlib.md5(str(k).encode()).hexdigest()
            bucket = int(h[:2], 16)
            tail = h[2:14]
            zeros = len(tail) - len(tail.lstrip("0"))
            if zeros == 12:
                rho = 49
            else:
                nz = int(tail[zeros], 16)
                rho = zeros * 4 + (0 if nz >= 8 else 1 if nz >= 4 else 2 if nz >= 2 else 3) + 1
            reg[bucket] = max(reg.get(bucket, 0), rho)
        num = sum(1 << (49 - rho) for rho in reg.values())
        nonzero = len(reg)
        m = _HLL_M
        raw = (_HLL_ALPHA * m * m) / ((num + (m - nonzero) * 2.0**49) / 2.0**49)
        if raw <= 2.5 * m and nonzero < m:
            est = float(m) * math.log(float(m) / (m - nonzero))
        else:
            est = raw
        expect[g] = (len(keys), round(est, 4))
    got = {
        r["order_status"]: (r["true_distinct"], r["hll_estimate"], r["rel_error"])
        for r in agg_approx_distinct_grouped_hll(spark, SF).collect()
    }
    assert set(got) == set(expect)
    for g, (n, est) in expect.items():
        assert got[g][0] == n
        assert abs(got[g][1] - est) < 1e-9
        # the 256-register HLL standard error is ~1.04/16 = 6.5%; the
        # fixture groups are small enough that 25% is a safe hard gate
        assert got[g][2] <= 0.25, (g, got[g])


def test_bucketed_percentile_within_half_bucket_of_exact(spark):
    """C99 twin: the histogram sketch's value error is bounded by W/2
    ($81.92) BY CONSTRUCTION — assert it against the exact nearest-rank
    percentile recomputed in python."""
    from etl_arcgis_spark.operators.aggregates import (
        _HIST_W,
        agg_approx_percentile_bucketed,
    )

    rows = table(spark, SF, "orders").select("o_orderpriority", "o_totalprice").collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["o_orderpriority"], []).append(
            int(round(r["o_totalprice"] * 100))
        )
    got = {r["o_orderpriority"]: r for r in agg_approx_percentile_bucketed(spark, SF).collect()}
    assert set(got) == set(groups)
    for g, cents in groups.items():
        cents.sort()
        n = len(cents)
        assert got[g]["n"] == n
        for q, col in ((25, "p25"), (50, "p50"), (75, "p75")):
            exact = cents[max(0, (n * q + 99) // 100 - 1)] / 100.0
            est = got[g][col]
            assert abs(est - exact) <= _HIST_W / 2 / 100.0 + 1e-6, (
                g, col, est, exact,
            )
            # and the estimate is the midpoint of the bucket holding
            # the nearest-rank element — recompute it exactly
            b = cents[max(0, (n * q + 99) // 100 - 1)] // _HIST_W
            assert abs(est - (b * _HIST_W + _HIST_W / 2) / 100.0) < 1e-6


def test_mmr_exact_matches_python_greedy_twin(spark):
    """C87 twin: recompute the quantized pool, pairwise sims, and the
    greedy selection in numpy/python and compare the full (rank,
    vec_id, rel_q, score_q) tuple set."""
    import numpy as np

    from etl_arcgis_spark.operators.similarity import sim_mmr_rerank_exact

    rows = table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    q = {r["vec_id"]: np.round(np.array(r["embedding"], dtype=np.float64) * 1000)
         for r in rows}
    n2 = {k: int((v * v).sum()) for k, v in q.items()}

    def cosq(a, b):
        dot = int((q[a] * q[b]).sum())
        return int(math.copysign(
            math.floor(abs(dot / (math.sqrt(n2[a]) * math.sqrt(n2[b])) * 1e6) + 0.5),
            dot,
        ))

    rel = {k: cosq(0, k) for k in q if k != 0}
    pool = sorted(rel, key=lambda k: (-rel[k], k))[:20]
    chosen, expect = [], []
    for rank in range(1, 6):
        best = None
        for vid in pool:
            if vid in chosen:
                continue
            ms = max((cosq(vid, s) for s in chosen), default=None)
            score = rel[vid] if ms is None else rel[vid] - ms
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, rel[vid], score)
        expect.append((rank, best[1], best[2], best[3]))
        chosen.append(best[1])
    got = sorted(tuple(r) for r in sim_mmr_rerank_exact(spark, SF).collect())
    assert got == sorted(expect)


def test_pca_power_exact_matches_numpy_eigensolver(spark):
    """C114 twin: the quantized power iteration must agree with
    numpy's exact eigensolver on the SAME integer Gram matrix — the
    dominant eigenvector direction to ~1e-4 (the e6 grid) and the
    Rayleigh eigenvalue to the integer grid."""
    import numpy as np

    from etl_arcgis_spark.operators.similarity import sim_pca_power_exact

    rows = table(spark, SF, "embeddings").select("embedding").collect()
    X = np.round(np.array([r["embedding"] for r in rows], dtype=np.float64) * 1000)
    G = X.T @ X
    evals, evecs = np.linalg.eigh(G)
    lead = evecs[:, -1]
    got = {r["component_dim"]: (r["loading_q"], r["eigenvalue_q"])
           for r in sim_pca_power_exact(spark, SF).collect()}
    v = np.array([got[i][0] for i in range(len(lead))], dtype=np.float64)
    v /= np.linalg.norm(v)
    align = abs(float(v @ lead))  # sign is arbitrary in eigh
    assert align > 0.99999, align
    eig_q = got[0][1]
    assert abs(eig_q - evals[-1] / 1e6) < max(2.0, abs(evals[-1]) * 1e-6 / 1e6), (
        eig_q, evals[-1] / 1e6,
    )


def test_bpe_apply_matches_python_twin(spark):
    """C212-APPLY twin: train the top-10 distinct-pair merge table and
    apply it greedily left-to-right in pure python; compare per-source
    token accounting exactly."""
    from collections import Counter

    from etl_arcgis_spark.operators.text import _BPE_APPLY_MERGES, text_bpe_apply

    docs = table(spark, SF, "documents").select("doc_id", "source", "text").collect()
    toks = {r["doc_id"]: r["text"].split(" ") for r in docs}
    src = {r["doc_id"]: r["source"] for r in docs}
    pair_counts: Counter = Counter()
    for t in toks.values():
        for a, b in zip(t, t[1:]):
            if a != b:
                pair_counts[(a, b)] += 1
    merges = sorted(pair_counts, key=lambda p: (-pair_counts[p], p))[:_BPE_APPLY_MERGES]

    def apply_merge(t, a, b):
        out, i = [], 0
        while i < len(t):
            if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                out.append(a + "_" + b)
                i += 2
            else:
                out.append(t[i])
                i += 1
        return out

    after = {}
    for d, t in toks.items():
        for a, b in merges:
            t = apply_merge(t, a, b)
        after[d] = t
    expect: dict = {}
    for d in toks:
        s_ = src[d]
        nb, na = len(toks[d]), len(after[d])
        e = expect.setdefault(s_, [0, 0, 0])
        e[0] += 1
        e[1] += nb
        e[2] += na
    got = {r["source"]: r for r in text_bpe_apply(spark, SF).collect()}
    assert set(got) == set(expect)
    for s_, (nd, nb, na) in expect.items():
        g = got[s_]
        assert (g["n_docs"], g["tok_before"], g["tok_after"]) == (nd, nb, na), s_
        assert g["merges_applied"] == nb - na
        assert abs(g["compression"] - round(nb / na, 4)) < 1e-9


def test_bradley_terry_recovers_planted_strengths(spark):
    """C236 twin: the planted matchup law says nation i beats j w.p.
    (j+1)/(i+j+2) — lower nationkey is strictly stronger. The MM fit
    must (a) reproduce an independent float MM fit of the same exact
    win counts to the integer grid's resolution and (b) rank the
    nations in near-planted order."""
    from etl_arcgis_spark.operators.aggregates import stats_bradley_terry

    li = table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey", "l_linenumber")
    o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF, "customer").select("c_custkey", "c_nationkey")
    s_ = table(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s_, li.l_suppkey == s_.s_suppkey)
        .select("l_orderkey", "l_suppkey", "l_linenumber", "c_nationkey", "s_nationkey")
        .collect()
    )
    wd: dict = {}
    for r in rows:
        na, nb = r["c_nationkey"], r["s_nationkey"]
        if na == nb:
            continue
        a_wins = ((r["l_orderkey"] * 7 + r["l_suppkey"] * 13 + r["l_linenumber"])
                  % (na + nb + 2)) <= nb
        w, l_ = (na, nb) if a_wins else (nb, na)
        wd[(w, l_)] = wd.get((w, l_), 0) + 1
    items = sorted({k for p in wd for k in p})
    wins = {i: sum(w for (a, _), w in wd.items() if a == i) for i in items}
    nij = {(i, j): wd.get((i, j), 0) + wd.get((j, i), 0)
           for i in items for j in items if i != j and (wd.get((i, j), 0) + wd.get((j, i), 0)) > 0}
    # independent float MM fit, 500 rounds
    pi = {i: 1.0 for i in items}
    for _ in range(500):
        d = {i: sum(nij[(i, j)] / (pi[i] + pi[j]) for j in items if (i, j) in nij)
             for i in items}
        pi = {i: wins[i] / d[i] for i in items}
        m = sum(pi.values()) / len(items)
        pi = {i: v / m for i, v in pi.items()}
    got = {r["nationkey"]: r for r in stats_bradley_terry(spark, SF).collect()}
    assert set(got) == set(items)
    for i in items:
        assert got[i]["wins"] == wins[i]
        # integer-grid MM vs float MM: within 1% relative
        assert abs(got[i]["strength_q"] / 1e6 - pi[i]) <= max(0.01 * pi[i], 0.01), (
            i, got[i]["strength_q"], pi[i],
        )
    # planted order: strength should decrease with nationkey — require
    # a strongly negative Spearman rank correlation
    ranks = sorted(items, key=lambda i: -got[i]["strength_q"])
    n = len(items)
    d2 = sum((ranks.index(i) - items.index(i)) ** 2 for i in items)
    rho = 1 - 6 * d2 / (n * (n * n - 1))
    assert rho > 0.8, rho


def test_fleiss_kappa_matches_python_twin(spark):
    """C237 twin: exact-integer Fleiss computation in pure python on
    the same planted annotators; also pins the relationship to the
    planted disagreement (substantial but imperfect agreement)."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_fleiss_kappa

    docs = table(spark, SF, "documents").select("doc_id").collect()

    def base(did: int) -> str:
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "abc"["0123456789abcdef".index(h[0]) % 3]

    shift = {"a": "b", "b": "c", "c": "a"}
    A = 0
    n_c: collections.Counter = collections.Counter()
    N = 0
    for r in docs:
        did = r["doc_id"]
        b = base(did)
        labels = (b, shift[b] if did % 5 == 0 else b, shift[b] if did % 7 == 0 else b)
        mc = collections.Counter(labels)
        A += sum(m * m for m in mc.values()) - 3
        n_c.update(mc)
        N += 1
    B = sum(v * v for v in n_c.values())
    kappa = (3 * A * N - 2 * B) / (18 * N * N - 2 * B)
    got = stats_fleiss_kappa(spark, SF).collect()[0]
    assert got["n_units"] == N and got["a_num"] == A and got["b_num"] == B
    assert abs(got["fleiss_kappa"] - round(kappa, 6)) < 1e-12
    assert 0.3 < got["fleiss_kappa"] < 0.95


def test_position_bias_matches_python_twin(spark):
    """C238 twin: recompute the comparisons, presentation coin, and
    planted bias slice in python; pin exact counts and the z-score,
    and assert the audit FLAGS the planted bias (z >> 2)."""
    from etl_arcgis_spark.operators.aggregates import dq_position_bias

    li = table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey", "l_linenumber")
    o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF, "customer").select("c_custkey", "c_nationkey")
    s_ = table(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s_, li.l_suppkey == s_.s_suppkey)
        .collect()
    )
    n = w = 0
    for r in rows:
        na, nb = r["c_nationkey"], r["s_nationkey"]
        if na == nb:
            continue
        ok, ln, sk = r["l_orderkey"], r["l_linenumber"], r["l_suppkey"]
        a_first = 1 if ((ok * 11 + ln * 3) % 97) < 48 else 0
        merit = 1 if ((ok * 7 + sk * 13 + ln) % (na + nb + 2)) <= nb else 0
        a_wins = a_first if (ok * 5 + ln) % 5 == 0 else merit
        n += 1
        w += 1 if a_wins == a_first else 0
    got = dq_position_bias(spark, SF).collect()[0]
    assert (got["n"], got["first_shown_wins"]) == (n, w)
    assert abs(got["p_first_wins"] - round(w / n, 6)) < 1e-12
    assert abs(got["z_score"] - round((2 * w - n) / math.sqrt(n), 4)) < 1e-9
    # the planted 20% position-follower slice must be FLAGGED
    assert got["p_first_wins"] > 0.55
    assert got["z_score"] > 2.0


def test_gwet_ac1_matches_python_twin(spark):
    """C239 twin: exact-integer Gwet AC1 in pure python on the same
    planted annotators; pins the closed form (3AN(K-1) - 2(9N^2-B)) /
    (18N^2(K-1) - 2(9N^2-B)) and the value band."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_gwet_ac1

    docs = table(spark, SF, "documents").select("doc_id").collect()

    def base(did: int) -> str:
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "abc"["0123456789abcdef".index(h[0]) % 3]

    shift = {"a": "b", "b": "c", "c": "a"}
    A = 0
    n_c: collections.Counter = collections.Counter()
    N = 0
    for r in docs:
        did = r["doc_id"]
        b = base(did)
        labels = (b, shift[b] if did % 5 == 0 else b,
                  shift[b] if did % 7 == 0 else b)
        mc = collections.Counter(labels)
        A += sum(m * m for m in mc.values()) - 3
        n_c.update(mc)
        N += 1
    B = sum(v * v for v in n_c.values())
    K = len(n_c)
    ac1 = (3 * A * N * (K - 1) - 2 * (9 * N * N - B)) / (
        18 * N * N * (K - 1) - 2 * (9 * N * N - B)
    )
    got = stats_gwet_ac1(spark, SF).collect()[0]
    assert got["n_units"] == N and got["a_num"] == A and got["b_num"] == B
    assert got["n_labels"] == K
    assert abs(got["gwet_ac1"] - round(ac1, 6)) < 1e-12
    # near-uniform prevalence => AC1 sits near the kappa family, well
    # inside the substantial-agreement band for the planted slices
    assert 0.3 < got["gwet_ac1"] < 0.95


def test_krippendorff_interval_matches_python_twin(spark):
    """C240 twin: interval-metric alpha in pure python (per-unit
    squared-distance disagreement, 3x3 expected term); pins the exact
    integers AND the divergence from nominal alpha (the planted shift
    makes c->a cost 4x, so the two statistics must differ)."""
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        stats_krippendorff_alpha,
        stats_krippendorff_interval,
    )

    docs = table(spark, SF, "documents").select("doc_id").collect()

    def basev(did: int) -> int:
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "0123456789abcdef".index(h[0]) % 3 + 1

    do2 = 0
    n_c: collections.Counter = collections.Counter()
    N = 0
    for r in docs:
        did = r["doc_id"]
        v1 = basev(did)
        sh = v1 % 3 + 1
        v2 = sh if did % 5 == 0 else v1
        v3 = sh if did % 7 == 0 else v1
        do2 += 2 * ((v1 - v2) ** 2 + (v1 - v3) ** 2 + (v2 - v3) ** 2)
        n_c.update((v1, v2, v3))
        N += 1
    de = sum(
        n_c[a] * n_c[b] * (a - b) ** 2 for a in n_c for b in n_c
    )
    nv = 3 * N
    alpha = 1 - do2 * (nv - 1) / (2 * de)
    got = stats_krippendorff_interval(spark, SF).collect()[0]
    assert got["n_units"] == N and got["n_votes"] == nv
    assert got["do2"] == do2 and got["de_w"] == de
    assert abs(got["alpha_interval"] - round(alpha, 6)) < 1e-12
    assert 0.3 < got["alpha_interval"] < 0.95
    nominal = stats_krippendorff_alpha(spark, SF).collect()[0]["alpha"]
    assert abs(got["alpha_interval"] - nominal) > 1e-4


def test_dawid_skene_recovers_planted_raters(spark):
    """C241 twin: an INDEPENDENT float EM (standard Dawid-Skene, no
    quantization) must agree with the e4-grid trajectory to within
    grid resolution, and the fit must recover the planted rater
    quality ordering (r1 clean > r3 errs 1/7 > r2 errs 1/5)."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_dawid_skene

    docs = table(spark, SF, "documents").select("doc_id").collect()

    def base(did: int) -> str:
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "abc"["0123456789abcdef".index(h[0]) % 3]

    shift = {"a": "b", "b": "c", "c": "a"}
    pat: collections.Counter = collections.Counter()
    for r in docs:
        did = r["doc_id"]
        b = base(did)
        pat[(b, shift[b] if did % 5 == 0 else b,
             shift[b] if did % 7 == 0 else b)] += 1

    classes = ["a", "b", "c"]
    prior = {c: 1 / 3 for c in classes}
    conf = {(r, c, l): (0.7 if c == l else 0.15)
            for r in (1, 2, 3) for c in classes for l in classes}
    post: dict = {}
    for _ in range(60):
        post = {}
        for p in pat:
            s = {c: prior[c] * conf[(1, c, p[0])] * conf[(2, c, p[1])]
                 * conf[(3, c, p[2])] for c in classes}
            t = sum(s.values())
            for c in classes:
                post[(p, c)] = s[c] / t
        sc = {c: sum(pat[p] * post[(p, c)] for p in pat) for c in classes}
        tot = sum(sc.values())
        prior = {c: sc[c] / tot for c in classes}
        conf = {
            (r, c, l): sum(pat[p] * post[(p, c)]
                           for p in pat if p[r - 1] == l) / sc[c]
            for r in (1, 2, 3) for c in classes for l in classes
        }
    got = {r["label"]: r for r in stats_dawid_skene(spark, SF).collect()}
    assert set(got) == set(classes)
    for c in classes:
        # quantized trajectory within 1% of the float fixed point
        assert abs(got[c]["prior_q"] - prior[c] * 10000) < 100, c
        assert abs(got[c]["pi1_diag_q"] - conf[(1, c, c)] * 10000) < 100, c
        assert abs(got[c]["pi2_diag_q"] - conf[(2, c, c)] * 10000) < 100, c
        assert abs(got[c]["pi3_diag_q"] - conf[(3, c, c)] * 10000) < 100, c
        # planted rater quality ordering: r1 (clean) > r3 (1/7) > r2 (1/5)
        assert got[c]["pi1_diag_q"] > got[c]["pi3_diag_q"] > got[c]["pi2_diag_q"], c
    # MAP labels partition the corpus exactly
    assert sum(r["n_map"] for r in got.values()) == len(docs)


def test_wilson_winrate_matches_python_twin(spark):
    """C242 twin: recompute wins/games per nation in python, apply the
    Wilson closed form, and pin the interval contract lo < p_hat < hi
    with the planted strength gradient (low nationkey wins more)."""
    from etl_arcgis_spark.operators.aggregates import analytics_wilson_winrate

    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber")
    o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF, "customer").select("c_custkey", "c_nationkey")
    s_ = table(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s_, li.l_suppkey == s_.s_suppkey)
        .collect()
    )
    games: dict = {}
    wins: dict = {}
    for r in rows:
        na, nb = r["c_nationkey"], r["s_nationkey"]
        if na == nb:
            continue
        ok, ln, sk = r["l_orderkey"], r["l_linenumber"], r["l_suppkey"]
        a = 1 if ((ok * 7 + sk * 13 + ln) % (na + nb + 2)) <= nb else 0
        games[na] = games.get(na, 0) + 1
        games[nb] = games.get(nb, 0) + 1
        wins[na] = wins.get(na, 0) + a
        wins[nb] = wins.get(nb, 0) + (1 - a)
    got = {r["nationkey"]: r for r in analytics_wilson_winrate(spark, SF).collect()}
    assert set(got) == set(games)
    for k in games:
        g = got[k]
        assert g["games"] == games[k] and g["wins"] == wins.get(k, 0)
        p = wins.get(k, 0) / games[k]
        n = games[k]
        half = 3.8416 / (2 * n)
        rad = math.sqrt(p * (1 - p) / n + 3.8416 / (4 * n * n))
        den = 1 + 3.8416 / n
        assert abs(g["p_hat"] - round(p, 6)) < 1e-12
        assert abs(g["wilson_lo"] - round((p + half - 1.96 * rad) / den, 6)) < 1e-9
        assert abs(g["wilson_hi"] - round((p + half + 1.96 * rad) / den, 6)) < 1e-9
        assert g["wilson_lo"] < g["p_hat"] < g["wilson_hi"]
        assert 0.0 <= g["wilson_lo"] and g["wilson_hi"] <= 1.0
    # planted gradient: the strongest nation (0) beats the weakest (24)
    if 0 in got and 24 in got:
        assert got[0]["p_hat"] > got[24]["p_hat"]


def test_kfold_assign_balanced_and_checksummed(spark):
    """C243 twin: recompute the md5-order rank in python; per-stratum
    fold sizes must be exactly floor/ceil(n/5) and the id checksums
    must pin the membership itself."""
    from etl_arcgis_spark.operators.corpus import sample_kfold_assign

    docs = table(spark, SF, "documents").select("doc_id", "lang").collect()
    strata: dict = {}
    for r in docs:
        strata.setdefault(r["lang"], []).append(r["doc_id"])
    expect: dict = {}
    for lang, ids in strata.items():
        order = sorted(ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
        for rk, did in enumerate(order):
            key = (lang, rk % 5)
            n, s = expect.get(key, (0, 0))
            expect[key] = (n + 1, s + did)
    got = {(r["lang"], r["fold"]): (r["n_docs"], r["id_checksum"])
           for r in sample_kfold_assign(spark, SF).collect()}
    assert got == expect
    for lang, ids in strata.items():
        sizes = [got[(lang, f)][0] for f in range(5) if (lang, f) in got]
        assert sum(sizes) == len(ids)
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)


def test_permutation_test_matches_python_twin(spark):
    """C244 twin: replay all 200 md5 coin draws in python with the
    same integer-cent sums; pin n_extreme and p, and assert the test
    does NOT reject (TPC-H priorities are uniform — no real effect)."""
    from etl_arcgis_spark.operators.aggregates import stats_permutation_test

    orders = table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority").collect()
    vals = [(r["o_orderkey"],
             int(math.copysign(math.floor(abs(float(r["o_totalprice"]) * 100) + 0.5), 1)),
             1 if r["o_orderpriority"] == "1-URGENT" else 0)
            for r in orders]
    n1 = sum(g for _, _, g in vals)
    s1 = sum(c * g for _, c, g in vals)
    n0 = len(vals) - n1
    s0 = sum(c for _, c, _ in vals) - s1
    d_obs = s1 / n1 - s0 / n0
    n_extreme = 0
    for b in range(200):
        bn1 = bs1 = 0
        for k, c, _ in vals:
            h = hashlib.md5(str(k * 200 + b).encode()).hexdigest()
            if "0123456789abcdef".index(h[0]) % 2 == 1:
                bn1 += 1
                bs1 += c
        bn0 = len(vals) - bn1
        bs0 = (s1 + s0) - bs1
        if abs(bs1 / bn1 - bs0 / bn0) >= abs(d_obs):
            n_extreme += 1
    got = stats_permutation_test(spark, SF).collect()[0]
    assert (got["n1"], got["n0"]) == (n1, n0)
    assert got["n_extreme"] == n_extreme
    assert abs(got["diff_obs_dollars"] - round(d_obs / 100, 4)) < 1e-9
    assert abs(got["p_value"] - round((1 + n_extreme) / 201, 6)) < 1e-12
    # under the uniform null p is ~Uniform(0,1): any fixture draw is
    # legitimate (sf0.001 lands at 0.0299); the bit-exact twin equality
    # above is the real pin — here just require p inside its range and
    # not the degenerate most-extreme value
    assert 1 / 201 < got["p_value"] <= 1.0


def test_vocab_oov_rate_matches_python_twin(spark):
    """C245 twin: rebuild the top-200 vocabulary and per-language
    OOV occurrence/type rates in python; pins the deterministic
    vocabulary boundary tie-break."""
    import collections

    from etl_arcgis_spark.operators.text import text_vocab_oov_rate

    docs = table(spark, SF, "documents").select("lang", "text").collect()
    cnt: collections.Counter = collections.Counter()
    per_lang_tokens: dict = {}
    for r in docs:
        toks = r["text"].split(" ")
        cnt.update(toks)
        per_lang_tokens.setdefault(r["lang"], []).extend(toks)
    vocab = set(w for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:200])
    got = {r["lang"]: r for r in text_vocab_oov_rate(spark, SF).collect()}
    assert set(got) == set(per_lang_tokens)
    for lang, toks in per_lang_tokens.items():
        types = set(toks)
        oov_t = sum(1 for t in toks if t not in vocab)
        oov_ty = sum(1 for t in types if t not in vocab)
        g = got[lang]
        assert (g["total_tokens"], g["oov_tokens"]) == (len(toks), oov_t), lang
        assert (g["total_types"], g["oov_types"]) == (len(types), oov_ty), lang
        assert abs(g["oov_token_rate"] - round(oov_t / len(toks), 6)) < 1e-12
        assert abs(g["oov_type_rate"] - round(oov_ty / len(types), 6)) < 1e-12
        assert 0.0 <= g["oov_token_rate"] < 1.0


def test_mrr_eval_matches_numpy_twin(spark):
    """C-MRR twin: recompute the cosine rankings with numpy in full
    double precision, take each query's first same-label hit within
    the top 20, and pin first_rel_pos + reciprocal_rank exactly."""
    import numpy as np

    from etl_arcgis_spark.operators.similarity import sim_mrr_eval

    rows = table(spark, SF, "embeddings").collect()
    vecs = {r["vec_id"]: (np.asarray(r["embedding"], dtype=np.float64),
                          r["label"]) for r in rows}
    expect = {}
    for qid in sorted(k for k in vecs if k < 20):
        qv, ql = vecs[qid]
        qn = math.sqrt(float(np.dot(qv, qv)))
        scored = []
        for cid, (cv, cl) in vecs.items():
            if cid < 20:
                continue
            cos = float(np.dot(qv, cv)) / (qn * math.sqrt(float(np.dot(cv, cv))))
            scored.append((-cos, cid, cl))
        scored.sort()
        first = 0
        for pos, (_, cid, cl) in enumerate(scored[:20], start=1):
            if cl == ql:
                first = pos
                break
        expect[qid] = (ql, first, round(1.0 / first, 6) if first else 0.0)
    got = {r["q_id"]: (r["label"], r["first_rel_pos"], r["reciprocal_rank"])
           for r in sim_mrr_eval(spark, SF).collect()}
    assert set(got) == set(expect)
    for qid, (ql, first, rr) in expect.items():
        assert got[qid][0] == ql and got[qid][1] == first, qid
        assert abs(got[qid][2] - rr) < 1e-9, qid


def test_proportions_ztest_matches_python_twin(spark):
    """C246 twin: exact counts + the pooled z formula in python;
    TPC-H priority/status independence keeps |z| modest."""
    from etl_arcgis_spark.operators.aggregates import stats_proportions_ztest

    orders = table(spark, SF, "orders").select(
        "o_orderpriority", "o_orderstatus").collect()
    n1 = x1 = n0 = x0 = 0
    for r in orders:
        if r["o_orderpriority"] == "1-URGENT":
            n1 += 1
            x1 += r["o_orderstatus"] == "F"
        else:
            n0 += 1
            x0 += r["o_orderstatus"] == "F"
    p1, p0 = x1 / n1, x0 / n0
    pp = (x1 + x0) / (n1 + n0)
    z = (p1 - p0) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n0))
    got = stats_proportions_ztest(spark, SF).collect()[0]
    assert (got["n1"], got["x1"], got["n0"], got["x0"]) == (n1, x1, n0, x0)
    assert abs(got["p1"] - round(p1, 6)) < 1e-12
    assert abs(got["p0"] - round(p0, 6)) < 1e-12
    assert abs(got["z_score"] - round(z, 4)) < 1e-9
    assert abs(got["z_score"]) < 4.0  # independent assignment: no huge effect


def test_interval_overlap_bucketed_matches_bruteforce(spark):
    """C247 twin: naive quadratic per-user pair scan in python — the
    cell-blocked engine spelling must find EXACTLY the same pairs
    (completeness: cell width > max interval length)."""
    from etl_arcgis_spark.operators.joins import join_interval_overlap_bucketed

    ev = table(spark, SF, "events").select("event_id", "user_id", "ts").collect()
    ivs: dict = {}
    import calendar

    for r in ev:
        # exact integer epoch-µs (ts is µs-precision, naive UTC)
        t = r["ts"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        e = us + (r["event_id"] % 7 + 1) * 60_000_000
        ivs.setdefault(r["user_id"], []).append((r["event_id"], us, e))
    expect: dict = {}
    for uid, items in ivs.items():
        a = [(k, s, e) for k, s, e in items if k % 2 == 0]
        b = [(k, s, e) for k, s, e in items if k % 2 == 1]
        for ka, sa, ea in a:
            for kb, sb, eb in b:
                if sa < eb and sb < ea:
                    ov = min(ea, eb) - max(sa, sb)
                    n, tot, mx = expect.get(uid, (0, 0, 0))
                    expect[uid] = (n + 1, tot + ov, max(mx, ov))
    got = {r["user_id"]: (r["n_pairs"], r["total_overlap_us"], r["max_overlap_us"])
           for r in join_interval_overlap_bucketed(spark, SF).collect()}
    assert got == expect


def test_lttb_downsample_matches_python_twin(spark):
    """C249 twin: replay the parallel-LTTB selection in python (e4
    quantized values, exact bucket sums, same IEEE area chain) and
    pin the per-bucket chosen point exactly."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.timeseries import (
        _LTTB_HOUR_US,
        ts_downsample_lttb,
    )

    ev = table(spark, SF, "events").select("event_id", "ts", "value").collect()
    pts = []
    sums: dict = {}
    for r in ev:
        t = r["ts"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        vq = int(math.floor(abs(float(r["value"]) * 10000) + 0.5))
        k = us // _LTTB_HOUR_US
        pts.append((r["event_id"], us, vq, k))
        sq, n = sums.get(k, (0, 0))
        sums[k] = (sq + vq, n + 1)
    best: dict = {}
    for eid, us, vq, k in pts:
        if (k - 1) not in sums or (k + 1) not in sums:
            continue
        sa, na = sums[k - 1]
        sb, nb = sums[k + 1]
        ya = float(sa) / float(na) / 10000
        yb = float(sb) / float(nb) / 10000
        yp = float(vq) / 10000
        xp = float(us) / float(_LTTB_HOUR_US)
        xa = float(k) - 0.5
        area = abs((-2.0) * (yp - ya) - (xa - xp) * (yb - ya)) / 2 * 1000000
        area_q = int(math.floor(abs(area) + 0.5))
        cur = best.get(k)
        if cur is None or (-area_q, eid) < (-cur[1], cur[0]):
            best[k] = (eid, area_q, vq)
    got = {r["bucket_idx"]: (r["event_id"], r["area_q"], r["value"])
           for r in ts_downsample_lttb(spark, SF).collect()}
    assert set(got) == set(best)
    for k, (eid, aq, vq) in best.items():
        assert got[k][0] == eid, k
        assert got[k][1] == aq, k
        assert abs(got[k][2] - round(vq / 10000, 4)) < 1e-12, k
    # shape contract: one point per interior bucket
    interior = [k for k in sums if (k - 1) in sums and (k + 1) in sums]
    assert len(got) == len(set(interior))


def test_mcnemar_and_cochran_q_match_python_twins(spark):
    """C250/C251 twins: exact contingency cells + both statistics in
    python; pins the planted asymmetry (rater 2 errs 1/5 > rater 3's
    1/7 => b > c, McNemar flags it) and Cochran's strong rejection
    (rater 1 is planted perfect)."""
    from etl_arcgis_spark.operators.aggregates import (
        stats_cochran_q,
        stats_mcnemar,
    )

    docs = [r["doc_id"] for r in
            table(spark, SF, "documents").select("doc_id").collect()]
    a = b = c = d = 0
    g1 = len(docs)
    g2 = g3 = 0
    sum_l2 = 0
    for did in docs:
        r2 = 0 if did % 5 == 0 else 1
        r3 = 0 if did % 7 == 0 else 1
        g2 += r2
        g3 += r3
        sum_l2 += (1 + r2 + r3) ** 2
        if r2 and not r3:
            b += 1
        elif r3 and not r2:
            c += 1
        elif r2 and r3:
            a += 1
        else:
            d += 1
    chi2 = (abs(b - c) - 1) ** 2 / (b + c)
    got = stats_mcnemar(spark, SF).collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (a, b, c, d)
    assert abs(got["mcnemar_chi2"] - round(chi2, 4)) < 1e-9
    # planted asymmetry: rater 3 (errs 1/7) is right more often when
    # they disagree than rater 2 (errs 1/5) => c > b
    assert c > b
    t = g1 + g2 + g3
    q = 2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - t * t) / (3 * t - sum_l2)
    gq = stats_cochran_q(spark, SF).collect()[0]
    assert (gq["n_units"], gq["g1"], gq["g2"], gq["g3"]) == (
        len(docs), g1, g2, g3)
    assert abs(gq["cochran_q"] - round(q, 4)) < 1e-9
    # three raters with distinct planted error rates: Q >> chi2_crit(2)
    assert gq["cochran_q"] > 10.0


def test_scd2_temporal_join_matches_python_twin(spark):
    """C252 twin: resolve each lineitem's dimension version in python
    (same epoch-day boundaries) and pin counts, revenue cents, and
    both checksums; validity ranges partition the timeline, so the
    version counts must conserve the fact rowcount."""
    import calendar

    from etl_arcgis_spark.operators.joins import join_scd2_temporal

    li = table(spark, SF, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate",
        "l_extendedprice", "l_discount").collect()
    sup = {r["s_suppkey"]: r["s_acctbal"]
           for r in table(spark, SF, "supplier").collect()}
    expect: dict = {}
    for r in li:
        t = r["l_shipdate"]
        day = (calendar.timegm(t.timetuple()) * 1_000_000
               + t.microsecond) // 86_400_000_000
        sk = r["l_suppkey"]
        b1 = 9496 + sk % 365
        b2 = 10592 + (sk * 7) % 365
        v = 0 if day < b1 else (1 if day < b2 else 2)
        cents = int(math.floor(abs(
            float(r["l_extendedprice"]) * (1 - float(r["l_discount"])) * 100
        ) + 0.5))
        acct = int(math.floor(abs(float(sup[sk]) * 100) + 0.5)) + 10000 * v
        n, rev, kck, ack = expect.get(v, (0, 0, 0, 0))
        expect[v] = (n + 1, rev + cents, kck + r["l_orderkey"], ack + acct)
    got = {r["version"]: (r["n_rows"], r["revenue_cents"],
                          r["key_checksum"], r["acct_checksum"])
           for r in join_scd2_temporal(spark, SF).collect()}
    assert got == expect
    assert sum(v[0] for v in got.values()) == len(li)  # conservation


def test_time_decay_attribution_matches_python_twin(spark):
    """C253 twin: replay the 7-day 2^-gap credit model in python with
    exact power-of-two weights; pins touch counts and both credit
    sums, and checks per-purchase share conservation."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.timeseries import (
        analytics_attribution_time_decay,
    )

    ev = table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value", "ts").collect()
    rows = []
    for r in ev:
        t = r["ts"]
        day = (calendar.timegm(t.timetuple()) * 1_000_000
               + t.microsecond) // 86_400_000_000
        rows.append((r["event_id"], r["user_id"], r["event_type"],
                     float(r["value"]), day))
    by_user: dict = {}
    for row in rows:
        by_user.setdefault(row[1], []).append(row)
    n_t: collections.Counter = collections.Counter()
    share: collections.Counter = collections.Counter()
    rev: collections.Counter = collections.Counter()
    for items in by_user.values():
        purchases = [x for x in items if x[2] == "purchase"]
        touches = [x for x in items if x[2] in ("click", "view")]
        for pid, _, _, pval, pday in purchases:
            cand = [(ty, 2.0 ** -(pday - d)) for eid, _, ty, _, d in touches
                    if 0 <= pday - d <= 7 and (d < pday or eid < pid)]
            if not cand:
                continue
            wsum = sum(w for _, w in cand)
            for ty, w in cand:
                n_t[ty] += 1
                share[ty] += w / wsum
                rev[ty] += pval * w / wsum
    got = {r["touch_type"]: r
           for r in analytics_attribution_time_decay(spark, SF).collect()}
    assert set(got) == set(n_t)
    for ty in n_t:
        assert got[ty]["n_touches"] == n_t[ty], ty
        assert abs(got[ty]["credit_share_total"] - round(share[ty], 6)) < 1e-5
        assert abs(got[ty]["attributed_revenue"] - round(rev[ty], 4)) < 1e-3
    # shares conserve: each credited purchase hands out exactly 1.0
    total = sum(share.values())
    assert abs(total - round(total)) < 1e-9


def test_tost_equivalence_matches_python_twin(spark):
    """C254 twin: explicit-moment TOST in python; pins both one-sided
    statistics and the small-SF asymmetry — the z-test (C246 family)
    does not reject, AND TOST does not claim equivalence (absence of
    evidence != evidence of absence, the whole point of TOST)."""
    from etl_arcgis_spark.operators.aggregates import (
        _TOST_MARGIN,
        stats_tost_equivalence,
    )

    orders = table(spark, SF, "orders").select(
        "o_orderpriority", "o_totalprice").collect()
    g1 = [float(r["o_totalprice"]) for r in orders
          if r["o_orderpriority"] == "1-URGENT"]
    g0 = [float(r["o_totalprice"]) for r in orders
          if r["o_orderpriority"] != "1-URGENT"]
    n1, n0 = len(g1), len(g0)
    m1, m0 = sum(g1) / n1, sum(g0) / n0
    v1 = (sum(x * x for x in g1) - sum(g1) ** 2 / n1) / (n1 - 1)
    v0 = (sum(x * x for x in g0) - sum(g0) ** 2 / n0) / (n0 - 1)
    se = math.sqrt(v1 / n1 + v0 / n0)
    diff = m1 - m0
    tl = (diff + _TOST_MARGIN) / se
    tu = (diff - _TOST_MARGIN) / se
    got = stats_tost_equivalence(spark, SF).collect()[0]
    assert (got["n1"], got["n0"]) == (n1, n0)
    assert abs(got["mean_diff"] - round(diff, 4)) < 1e-6
    assert abs(got["t_lower"] - round(tl, 4)) < 1e-6
    assert abs(got["t_upper"] - round(tu, 4)) < 1e-6
    assert got["equivalent"] == (1 if (tl > 1.645 and tu < -1.645) else 0)
    # at fixture SF the SE exceeds the margin's reach: not equivalent
    assert got["equivalent"] == 0


def test_classical_decomposition_matches_python_twin(spark):
    """C255 twin: replay the centered-MA decomposition in python with
    the same exact-integer spelling; pins every seasonal index and
    the additive-identity property (seasonal indices of the detrended
    series average ~0 across hours)."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.timeseries import ts_decompose_classical

    ev = table(spark, SF, "events").select("ts", "value").collect()
    hourly: collections.Counter = collections.Counter()
    for r in ev:
        t = r["ts"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        vq = int(math.floor(abs(float(r["value"]) * 10000) + 0.5))
        hourly[us // 3_600_000_000] += vq
    hs = sorted(hourly)
    dev: dict = {}
    for i, h in enumerate(hs):
        lo25, hi25 = i - 12, i + 12
        if lo25 < 0 or hi25 >= len(hs):
            continue
        # contiguity: the ROWS frame covers neighbors by ORDER, which
        # only equals the calendar window when hours are contiguous
        if hs[hi25] - hs[lo25] != 24:
            # engine uses ROWS frame too — replicate exactly (frame is
            # positional, not calendar): proceed identically
            pass
        s25 = sum(hourly[hs[j]] for j in range(lo25, hi25 + 1))
        s23 = sum(hourly[hs[j]] for j in range(i - 11, i + 12))
        d = 48 * hourly[h] - (s23 + s25)
        dev.setdefault(h % 24, []).append(d)
    def r6(x: float) -> float:
        # SQL round() is half-AWAY-from-zero; python round() is banker's
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    got = {r["hour_of_day"]: r for r in ts_decompose_classical(spark, SF).collect()}
    assert set(got) == set(dev)
    for hod, ds in dev.items():
        g = got[hod]
        assert g["n_hours"] == len(ds), hod
        assert abs(g["seasonal"]
                   - r6(float(sum(ds)) / float(len(ds)) / 480000)) < 1e-12
        assert abs(g["min_detrended"] - r6(min(ds) / 480000)) < 1e-12
        assert abs(g["max_detrended"] - r6(max(ds) / 480000)) < 1e-12
    # additive identity: hour-of-day seasonal indices sum to ~0 —
    # approximate when the hourly series has gaps (the ROWS frame is
    # positional; sf0.001 has ~130 empty hours), so a 10% band
    tot = sum(float(sum(ds)) / float(len(ds)) / 480000 for ds in dev.values())
    level = sum(hourly.values()) / len(hourly) / 10000
    assert abs(tot) < 0.10 * max(level, 1.0)


def test_ols_normal_equations_matches_numpy_lstsq(spark):
    """C256 twin: the distributed normal-equations fit must agree
    with numpy's QR-based lstsq on the same rows to far better than
    the reporting grid (the Gram moments are exact integers, so the
    only divergence is the solve path)."""
    import numpy as np

    from etl_arcgis_spark.operators.aggregates import ml_ols_normal_equations

    li = table(spark, SF, "lineitem").select(
        "l_extendedprice", "l_quantity", "l_discount").collect()
    y = np.array([float(r["l_extendedprice"]) for r in li])
    X = np.column_stack([
        np.ones(len(li)),
        np.array([float(r["l_quantity"]) for r in li]),
        np.array([round(float(r["l_discount"]) * 100) for r in li]),
    ])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    ss_res = float(np.sum((y - pred) ** 2))
    ss_tot = float(np.sum((y - y.mean()) ** 2))
    r2 = 1 - ss_res / ss_tot
    got = ml_ols_normal_equations(spark, SF).collect()[0]
    assert got["n"] == len(li)
    assert abs(got["b0_dollars"] - beta[0]) < 1e-2
    assert abs(got["b1_per_qty_dollars"] - beta[1]) < 1e-3
    assert abs(got["b2_per_pct_dollars"] - beta[2]) < 1e-2
    assert abs(got["r2"] - r2) < 1e-6
    # the synthetic fixture prices are independent of quantity, so the
    # fit must be HONESTLY near zero — a large R^2 here would mean the
    # moments or the solve are wrong
    assert 0.0 <= got["r2"] < 0.05


def test_cronbach_alpha_matches_python_twin(spark):
    """C257 twin: exact-integer variances in python; the planted
    high agreement forces alpha toward 1."""
    from etl_arcgis_spark.operators.aggregates import stats_cronbach_alpha

    docs = [r["doc_id"] for r in
            table(spark, SF, "documents").select("doc_id").collect()]

    def basev(did: int) -> int:
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "0123456789abcdef".index(h[0]) % 3 + 1

    cols = {1: [], 2: [], 3: []}
    for did in docs:
        v1 = basev(did)
        sh = v1 % 3 + 1
        cols[1].append(v1)
        cols[2].append(sh if did % 5 == 0 else v1)
        cols[3].append(sh if did % 7 == 0 else v1)
    n = len(docs)

    def pvar(xs):
        s, q = sum(xs), sum(x * x for x in xs)
        return (n * q - s * s) / (n * n)

    tot = [a + b + c for a, b, c in zip(cols[1], cols[2], cols[3])]
    vt = pvar(tot)
    alpha = 1.5 * (1 - (pvar(cols[1]) + pvar(cols[2]) + pvar(cols[3])) / vt)
    got = stats_cronbach_alpha(spark, SF).collect()[0]
    assert got["n"] == n
    assert abs(got["cronbach_alpha"] - round(alpha, 6)) < 1e-9
    assert 0.7 < got["cronbach_alpha"] <= 1.0


def test_psi_drift_matches_python_twin(spark):
    """C258 twin: replay the Laplace-smoothed PSI in python on the
    same time split; pins the scalar and the threshold verdict."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.quality import _DRIFT_SPLIT_US, dq_psi_drift

    ev = table(spark, SF, "events").select("event_type", "ts").collect()
    na: collections.Counter = collections.Counter()
    nb: collections.Counter = collections.Counter()
    for r in ev:
        t = r["ts"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        (na if us < _DRIFT_SPLIT_US else nb)[r["event_type"]] += 1
    cats = sorted(set(na) | set(nb))
    sa, sb, k = sum(na.values()), sum(nb.values()), float(len(cats))
    psi = 0.0
    for c in cats:
        pa = (na.get(c, 0) + 1) / (sa + k)
        pb = (nb.get(c, 0) + 1) / (sb + k)
        psi += (pb - pa) * math.log(pb / pa)
    got = dq_psi_drift(spark, SF).collect()[0]
    assert got["n_categories"] == len(cats)
    assert abs(got["psi"] - round(psi, 6)) < 1e-6
    expect_verdict = ("stable" if psi < 0.1
                      else "shifting" if psi < 0.25 else "action")
    assert got["verdict"] == expect_verdict
    assert got["psi"] >= 0.0  # PSI is a symmetrized KL: non-negative


def test_perceptron_batch_matches_python_replay(spark):
    """C260 twin: replay all 8 exact-BIGINT epochs in pure python —
    the trajectory (weights AND misclassification counts per epoch)
    must be identical integers, not merely close."""
    from etl_arcgis_spark.operators.aggregates import (
        _PERC_EPOCHS,
        ml_perceptron_batch,
    )

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount").collect()
    feats = [
        (1 if r["l_returnflag"] == "R" else -1,
         int(r["l_quantity"]),
         int(round(float(r["l_discount"]) * 100)))
        for r in li
    ]
    b = wq = wd = 0
    expect = []
    for t in range(1, _PERC_EPOCHS + 1):
        m = gy = gq = gd = 0
        for y, q, d in feats:
            if y * (b + wq * q + wd * d) <= 0:
                m += 1
                gy += y
                gq += y * q
                gd += y * d
        b, wq, wd = b + gy, wq + gq, wd + gd
        expect.append((t, m, b, wq, wd))
    got = [(r["epoch"], r["n_misclassified"], r["b"], r["wq"], r["wd"])
           for r in sorted(ml_perceptron_batch(spark, SF).collect())]
    assert got == expect
    # the classes are not separable: every epoch keeps misclassifying
    assert all(m > 0 for _, m, *_ in expect)


def test_classifier_eval_matches_python_twin(spark):
    """C261 twin: exact confusion counts in python; fixture honesty —
    the score is independent of the label, so precision ~= prevalence
    and MCC ~= 0."""
    from etl_arcgis_spark.operators.aggregates import (
        ml_classifier_eval_threshold,
    )

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_discount", "l_tax").collect()
    tp = fp = fn = tn = 0
    for r in li:
        y = 1 if r["l_returnflag"] == "R" else 0
        s = int(round(float(r["l_discount"]) * 100)) * 10 + int(
            round(float(r["l_tax"]) * 100))
        p = 1 if s >= 55 else 0
        tp += y * p
        fp += (1 - y) * p
        fn += y * (1 - p)
        tn += (1 - y) * (1 - p)
    got = ml_classifier_eval_threshold(spark, SF).collect()[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
    n = tp + fp + fn + tn
    assert abs(got["acc"] - round((tp + tn) / n, 6)) < 1e-9
    assert abs(got["prec"] - round(tp / (tp + fp), 6)) < 1e-9
    assert abs(got["rec"] - round(tp / (tp + fn), 6)) < 1e-9
    assert abs(got["f1"] - round(2 * tp / (2 * tp + fp + fn), 6)) < 1e-9
    prevalence = (tp + fn) / n
    assert abs(got["prec"] - prevalence) < 0.05
    assert abs(got["mcc"]) < 0.05


def test_auc_roc_matches_python_twin(spark):
    """C262 twin: brute-force pairwise AUC (P(s_pos > s_neg) + ties/2)
    via the per-score count table; must equal the rank-identity AUC
    exactly, and sit near 0.5 on the label-independent score."""
    import collections

    from etl_arcgis_spark.operators.aggregates import ml_auc_roc_exact

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_discount", "l_tax").collect()
    pos: collections.Counter = collections.Counter()
    neg: collections.Counter = collections.Counter()
    for r in li:
        s = int(round(float(r["l_discount"]) * 100)) * 10 + int(
            round(float(r["l_tax"]) * 100))
        (pos if r["l_returnflag"] == "R" else neg)[s] += 1
    n1, n0 = sum(pos.values()), sum(neg.values())
    wins = ties = 0
    for sp, cp in pos.items():
        for sn, cn in neg.items():
            if sp > sn:
                wins += cp * cn
            elif sp == sn:
                ties += cp * cn
    auc = (wins + ties / 2) / (n1 * n0)
    got = ml_auc_roc_exact(spark, SF).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (n1, n0)
    assert abs(got["auc"] - round(auc, 6)) < 1e-9
    assert abs(got["gini_coefficient"] - round(2 * auc - 1, 6)) < 1e-9
    assert 0.45 < got["auc"] < 0.55


def test_cramers_v_matches_python_twin(spark):
    """C263 twin: exact integer contingency in python; V in [0,1],
    corrected V <= V."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_cramers_v

    ev = table(spark, SF, "events").select("event_type", "ts").collect()
    cells: collections.Counter = collections.Counter()
    for r in ev:
        t = r["ts"]
        days = (calendar.timegm(t.timetuple()) * 1_000_000
                + t.microsecond) // 86_400_000_000
        cells[(r["event_type"], (days + 4) % 7)] += 1
    rt: collections.Counter = collections.Counter()
    ct: collections.Counter = collections.Counter()
    for (et, dw), c in cells.items():
        rt[et] += c
        ct[dw] += c
    n = sum(cells.values())
    chi2 = 0.0
    for (et, dw), obs in cells.items():
        e = rt[et] * ct[dw] / n
        chi2 += (obs - e) ** 2 / e
    nr, nc = len(rt), len(ct)
    v = math.sqrt(chi2 / (n * min(nr - 1, nc - 1)))
    phi2c = max(chi2 / n - (nr - 1) * (nc - 1) / (n - 1), 0.0)
    nrc = nr - (nr - 1) ** 2 / (n - 1)
    ncc = nc - (nc - 1) ** 2 / (n - 1)
    vc = math.sqrt(phi2c / (min(nrc, ncc) - 1))
    got = stats_cramers_v(spark, SF).collect()[0]
    assert got["n"] == n
    assert abs(got["chi2"] - round(chi2, 4)) < 1e-6
    assert abs(got["cramers_v"] - round(v, 6)) < 1e-9
    assert abs(got["cramers_v_corrected"] - round(vc, 6)) < 1e-9
    assert 0.0 <= got["cramers_v_corrected"] <= got["cramers_v"] <= 1.0


def test_friedman_matches_python_twin(spark):
    """C264 twin: full python midrank replay (rankdata-style) of the
    tie-corrected Friedman statistic; the planted upward shift on
    raters 2/3 must push rank_sum_r1 below the others."""
    from etl_arcgis_spark.operators.aggregates import stats_friedman_test

    docs = [r["doc_id"] for r in
            table(spark, SF, "documents").select("doc_id").collect()]

    def basev(did: int) -> int:
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "0123456789abcdef".index(h[0]) % 3 + 1

    rows = []
    for did in docs:
        v1 = basev(did)
        sh = v1 % 3 + 1
        rows.append((v1,
                     sh if did % 5 == 0 else v1,
                     sh if did % 7 == 0 else v1))
    n, k = len(rows), 3
    rank_sums = [0.0, 0.0, 0.0]
    tie_sum = 0
    for vs in rows:
        for j in range(k):
            less = sum(1 for x in vs if x < vs[j])
            eq = sum(1 for x in vs if x == vs[j])
            rank_sums[j] += less + (eq + 1) / 2
        for val in set(vs):
            t = vs.count(val)
            tie_sum += t ** 3 - t
    chisq_unc = 12 / (n * k * (k + 1)) * sum(
        rj ** 2 for rj in rank_sums) - 3 * n * (k + 1)
    c = 1 - tie_sum / (n * (k ** 3 - k))
    chisq = chisq_unc / c
    got = stats_friedman_test(spark, SF).collect()[0]
    assert got["n_units"] == n
    for j in range(3):
        assert abs(got[f"rank_sum_r{j+1}"] - rank_sums[j]) < 1e-6
    assert abs(got["friedman_chi2"] - round(chisq, 6)) < 1e-4
    assert abs(got["kendall_w"] - round(chisq / (n * (k - 1)), 6)) < 1e-4
    # planted bias: raters 2/3 shift UP on their slices -> r1 lowest
    assert rank_sums[0] < rank_sums[1] and rank_sums[0] < rank_sums[2]
    assert got["friedman_chi2"] > 0


def test_logistic_gd_matches_python_full_replay(spark):
    """C265 twin: independent full replay — raw rows (not the
    operator's count table), same grid discipline — must reproduce
    the exact integer weight trajectory; log-loss must descend
    toward (but stay above) the label entropy, and the
    feature-independent fixture keeps slope magnitudes below the
    intercept's."""
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        _LOGIT_EPOCHS,
        _LOGIT_LR,
        _micro,
        _snap,
        ml_logistic_gd,
    )

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount").collect()
    counts: collections.Counter = collections.Counter()
    for r in li:
        counts[(1 if r["l_returnflag"] == "R" else 0,
                int(r["l_quantity"]),
                int(round(float(r["l_discount"]) * 100)))] += 1
    n = sum(counts.values())
    w0 = w1 = w2 = 0
    expect = []
    for t in range(1, _LOGIT_EPOCHS + 1):
        g0 = g1 = g2 = 0
        for (y, q, d), cnt in counts.items():
            z = (w0 + w1 * q / 50.0 + w2 * d / 10.0) / 1000000.0
            p = 1.0 / (1.0 + math.exp(-z))
            g0 += _micro(cnt * (y - p))
            g1 += _micro(cnt * (y - p) * (q / 50.0))
            g2 += _micro(cnt * (y - p) * (d / 10.0))
        w0 += _snap(_LOGIT_LR * (g0 / n))
        w1 += _snap(_LOGIT_LR * (g1 / n))
        w2 += _snap(_LOGIT_LR * (g2 / n))
        ll = 0
        for (y, q, d), cnt in counts.items():
            z = (w0 + w1 * q / 50.0 + w2 * d / 10.0) / 1000000.0
            p = 1.0 / (1.0 + math.exp(-z))
            ll += _micro(cnt * math.log(max(p if y == 1 else 1.0 - p, 1e-15)))
        expect.append((t, w0, w1, w2, n, round(-float(ll) / 1000000.0 / n, 6)))
    got = [(r["epoch"], r["w0_micro"], r["w1_micro"], r["w2_micro"],
            r["n"], r["avg_logloss"])
           for r in sorted(ml_logistic_gd(spark, SF).collect())]
    assert got == expect
    losses = [e[5] for e in expect]
    assert losses == sorted(losses, reverse=True)  # monotone descent
    prev = sum(c for (y, _, _), c in counts.items() if y == 1) / n
    entropy = -(prev * math.log(prev) + (1 - prev) * math.log(1 - prev))
    assert losses[-1] > entropy - 1e-6
    assert losses[-1] - entropy < 0.15
    # feature-independent label: slopes never dominate the intercept
    assert abs(expect[-1][2]) < abs(expect[-1][1])
    assert abs(expect[-1][3]) < abs(expect[-1][1])


def test_vocab_coverage_matches_python_twin(spark):
    """C266 twin: exact trigram frequency-of-frequencies in python;
    estimator identities replayed; the fixture's trigram tail must be
    heavy (hapaxes exist) or the estimators are degenerate."""
    import collections

    from etl_arcgis_spark.operators.text import (
        text_vocab_coverage_estimators,
    )

    texts = [r["text"] for r in
             table(spark, SF, "documents").select("text").collect()]
    tc: collections.Counter = collections.Counter()
    for t in texts:
        toks = t.split(" ")
        for i in range(len(toks) - 2):
            tc[" ".join(toks[i:i + 3])] += 1
    fof: collections.Counter = collections.Counter(tc.values())
    n_tokens = sum(tc.values())
    v = len(tc)
    n1, n2, n3 = fof[1], fof[2], fof[3]
    got = text_vocab_coverage_estimators(spark, SF).collect()[0]
    assert (got["n_tokens"], got["vocab"]) == (n_tokens, v)
    assert (got["hapax"], got["dis_legomena"]) == (n1, n2)
    assert n1 > 0 and n2 > 0  # heavy tail — estimators well-defined
    assert abs(got["turing_coverage"] - round(1 - n1 / n_tokens, 6)) < 1e-9
    assert abs(got["chao1_vocab"]
               - round(v + n1 * (n1 - 1) / (2 * (n2 + 1)), 4)) < 1e-9
    assert got["chao1_vocab"] >= v  # Chao1 is a lower bound ABOVE V
    assert abs(got["gt_rstar_1"] - round(2 * n2 / n1, 6)) < 1e-9
    assert abs(got["gt_rstar_2"] - round(3 * n3 / n2, 6)) < 1e-9


def test_association_rules_matches_python_twin(spark):
    """C267 twin: brute-force basket mining in python — supports,
    confidence, lift, and the exact top-20 ordering."""
    import collections

    from etl_arcgis_spark.operators.analytics import (
        _ASSOC_MINSUP,
        analytics_association_rules,
    )

    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey").collect()
    baskets: dict = collections.defaultdict(set)
    for r in li:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    n = len(baskets)
    isup: collections.Counter = collections.Counter()
    psup: collections.Counter = collections.Counter()
    for items in baskets.values():
        for it in items:
            isup[it] += 1
        its = sorted(items)
        for i in range(len(its)):
            for j in range(i + 1, len(its)):
                psup[(its[i], its[j])] += 1
    rules = []
    for (a, b), sab in psup.items():
        if sab < _ASSOC_MINSUP:
            continue
        for ante, cons in ((a, b), (b, a)):
            conf = sab / isup[ante]
            lift = sab * n / (isup[ante] * isup[cons])
            rules.append((round(lift, 6), round(conf, 6), ante, cons, sab))
    rules.sort(key=lambda r: (-r[0], -r[1], r[2], r[3]))
    expect = [(a, c, s, cf, lf) for lf, cf, a, c, s in rules[:20]]
    got = [(r["antecedent"], r["consequent"], r["support_pair"],
            r["confidence"], r["lift"])
           for r in analytics_association_rules(spark, SF).collect()]
    assert got == expect
    assert all(r[4] >= 1.0 for r in got[:1])  # top rule lift > 1


def test_haar_wavelet_matches_python_twin(spark):
    """C268 twin: exact integer Haar replay from the raw hourly
    counts; Parseval-style accounting — total variance decomposes as
    sum over levels of energy/2^level plus the DC term."""
    import collections

    from etl_arcgis_spark.operators.timeseries import ts_haar_wavelet

    ev = table(spark, SF, "events").select("ts").collect()
    ks = []
    for r in ev:
        import calendar
        t = r["ts"]
        ks.append((calendar.timegm(t.timetuple()) * 1_000_000
                   + t.microsecond) // 3_600_000_000)
    k0 = min(ks)
    cnt: collections.Counter = collections.Counter()
    for k in ks:
        i = k - k0
        if i < 512:
            cnt[i] += 1
    x = [cnt.get(i, 0) for i in range(512)]
    expect = {}
    a = x
    for lv in range(1, 10):
        nxt = [a[2 * j] + a[2 * j + 1] for j in range(len(a) // 2)]
        det = [a[2 * j] - a[2 * j + 1] for j in range(len(a) // 2)]
        expect[lv] = (len(nxt), sum(d * d for d in det),
                      max(abs(d) for d in det), max(nxt))
        a = nxt
    got = {r["level"]: (r["n_coeffs"], r["detail_energy"],
                        r["max_abs_detail"], r["max_approx"])
           for r in ts_haar_wavelet(spark, SF).collect()}
    assert got == expect
    assert got[9][0] == 1 and got[9][3] == sum(x)
    # Parseval for unnormalized Haar: sum_i x_i^2 =
    #   sum_lv energy_lv / 2^lv + (total)^2 / 512
    lhs = sum(v * v for v in x)
    rhs = sum(expect[lv][1] / 2 ** lv for lv in range(1, 10)) \
        + sum(x) ** 2 / 512
    assert abs(lhs - rhs) < 1e-6


def test_pettitt_matches_python_twin(spark):
    """C269 twin: O(n^2) brute-force U_t from sign sums — the rank
    identity must agree exactly; K, t*, p, and both segment means
    replayed."""
    import collections

    from etl_arcgis_spark.operators.timeseries import (
        ts_pettitt_change_point,
    )

    ev = table(spark, SF, "events").select("ts").collect()
    ks = []
    for r in ev:
        import calendar
        t = r["ts"]
        ks.append((calendar.timegm(t.timetuple()) * 1_000_000
                   + t.microsecond) // 3_600_000_000)
    k0 = min(ks)
    cnt: collections.Counter = collections.Counter()
    for k in ks:
        i = k - k0
        if i < 512:
            cnt[i] += 1
    x = [cnt.get(i, 0) for i in range(512)]
    n = 512

    def sgn(a, b):
        return (a > b) - (a < b)

    best_k2 = -1
    best_t = None
    u = 0.0
    # brute force via the incremental identity U_t = U_{t-1} + sum_j sgn
    for t in range(n - 1):
        u += sum(sgn(x[t], xj) for xj in x)
        if abs(u) * 2 > best_k2:
            best_k2 = int(abs(u) * 2)
            best_t = t
    k_stat = best_k2 / 2
    p = 2 * math.exp(-6 * k_stat ** 2 / (n ** 3 + n ** 2))
    got = ts_pettitt_change_point(spark, SF).collect()[0]
    assert got["n_hours"] == n
    assert got["change_point_hour"] == best_t
    assert abs(got["k_stat"] - round(k_stat, 1)) < 1e-9
    assert abs(got["p_approx"] - round(p, 6)) < 1e-6
    sb = sum(x[:best_t + 1])
    sa = sum(x[best_t + 1:])
    assert abs(got["mean_before"] - round(sb / (best_t + 1), 6)) < 1e-9
    assert abs(got["mean_after"] - round(sa / (n - 1 - best_t), 6)) < 1e-9


def test_ridge_path_matches_numpy_and_shrinks(spark):
    """C270 twin: per-alpha closed form vs numpy solve on the
    centered system; alpha=0 must equal OLS; slope L2 norm strictly
    non-increasing along the path."""
    import numpy as np

    from etl_arcgis_spark.operators.aggregates import (
        ml_ols_normal_equations,
        ml_ridge_path,
    )

    li = table(spark, SF, "lineitem").select(
        "l_extendedprice", "l_quantity", "l_discount").collect()
    y = np.array([float(r["l_extendedprice"]) for r in li])
    q = np.array([float(r["l_quantity"]) for r in li])
    d = np.array([round(float(r["l_discount"]) * 100) for r in li])
    n = len(y)
    X = np.column_stack([q - q.mean(), d - d.mean()])
    yc = y - y.mean()
    got = {r["alpha"]: r for r in ml_ridge_path(spark, SF).collect()}
    norms = []
    for alpha in (0, 1, 10, 100, 1000):
        G = X.T @ X + alpha * n * np.eye(2)
        b = np.linalg.solve(G, X.T @ yc)
        b0 = y.mean() - b[0] * q.mean() - b[1] * d.mean()
        r = got[alpha]
        assert abs(r["b1_per_qty_dollars"] - b[0]) < 1e-4
        assert abs(r["b2_per_pct_dollars"] - b[1]) < 1e-4
        assert abs(r["b0_dollars"] - b0) < 1e-2
        norms.append(math.hypot(r["b1_per_qty_dollars"],
                                r["b2_per_pct_dollars"]))
    assert all(norms[i + 1] <= norms[i] + 1e-12 for i in range(4))
    ols = ml_ols_normal_equations(spark, SF).collect()[0]
    assert abs(got[0]["b1_per_qty_dollars"]
               - ols["b1_per_qty_dollars"]) < 2e-3


def _hourly_counts(spark, n_hours):
    import calendar
    import collections

    ev = table(spark, SF, "events").select("ts").collect()
    ks = []
    for r in ev:
        t = r["ts"]
        ks.append((calendar.timegm(t.timetuple()) * 1_000_000
                   + t.microsecond) // 3_600_000_000)
    k0 = min(ks)
    cnt: collections.Counter = collections.Counter()
    for k in ks:
        i = k - k0
        if i < n_hours:
            cnt[i] += 1
    return [cnt.get(i, 0) for i in range(n_hours)]


def test_logrank_matches_python_twin(spark):
    """C271 twin: full python replay of the Mantel-Cox accumulation
    from the same lifetime construction; the even/odd split has no
    planted difference, so |z| must be modest."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.analytics import stats_logrank_test

    ev = table(spark, SF, "events").select("user_id", "ts").collect()
    span: dict = {}
    for r in ev:
        t = r["ts"]
        d = (calendar.timegm(t.timetuple()) * 1_000_000
             + t.microsecond) // 86_400_000_000
        lo, hi = span.get(r["user_id"], (d, d))
        span[r["user_id"]] = (min(lo, d), max(hi, d))
    dmax = max(hi for _, hi in span.values())
    lifes = [(hi - lo, 1 if hi == dmax else 0, uid % 2)
             for uid, (lo, hi) in span.items()]
    grid: dict = collections.defaultdict(lambda: [0, 0, 0, 0])
    for dur, cens, grp in lifes:
        g = grid[dur]
        g[0] += 1 - cens
        g[1] += (1 - cens) if grp == 1 else 0
        g[2] += 1
        g[3] += grp
    n = len(lifes)
    n1 = sum(g for _, _, g in lifes)
    o1 = 0
    e1 = v1 = 0.0
    r_all, r_g1 = n, n1
    for dur in sorted(grid):
        d_all, d_g1, leaving, leaving_g1 = grid[dur]
        if d_all > 0:
            o1 += d_g1
            frac = r_g1 / r_all
            e1 += d_all * frac
            if r_all > 1:
                v1 += d_all * frac * (1 - frac) * (r_all - d_all) / (r_all - 1)
        r_all -= leaving
        r_g1 -= leaving_g1
    got = stats_logrank_test(spark, SF).collect()[0]
    assert got["observed_g1"] == o1
    assert abs(got["expected_g1"] - round(e1, 4)) < 1e-6
    assert abs(got["variance_g1"] - round(v1, 4)) < 1e-6
    z = (o1 - e1) / math.sqrt(v1)
    assert abs(got["z_logrank"] - round(z, 4)) < 1e-6
    assert abs(z) < 3.5  # no planted difference between even/odd


def test_clustering_coefficient_matches_python_twin(spark):
    """C272 twin: brute-force triangles + wedges on the brand-bounded
    graph; transitivity identity 3T/W in [0,1]."""
    import collections
    import itertools

    from etl_arcgis_spark.operators.graph import (
        graph_clustering_coefficient,
    )

    parts = table(spark, SF, "part").select("p_partkey", "p_brand").collect()
    brand = min(p["p_brand"] for p in parts)
    keep = {p["p_partkey"] for p in parts if p["p_brand"] == brand}
    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey").collect()
    baskets: dict = collections.defaultdict(set)
    for r in li:
        if r["l_partkey"] in keep:
            baskets[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            edges.add((a, b))
    adj: dict = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri = sum(1 for a, b in edges for c in (adj[a] & adj[b]) if c > b)
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    got = graph_clustering_coefficient(spark, SF).collect()[0]
    assert got["n_nodes"] == len(adj)
    assert got["n_edges"] == len(edges)
    assert got["n_wedges"] == wedges
    assert got["n_triangles"] == tri
    assert abs(got["transitivity"] - round(3 * tri / wedges, 6)) < 1e-9
    assert 0.0 <= got["transitivity"] <= 1.0


def test_jarque_bera_matches_python_twin(spark):
    """C273 twin: exact integer moments in python; the uniform-ish
    quantity distribution must reject normality (platykurtic)."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_jarque_bera

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity").collect()
    groups: dict = collections.defaultdict(list)
    for r in li:
        groups[r["l_returnflag"]].append(int(r["l_quantity"]))
    got = {r["l_returnflag"]: r for r in stats_jarque_bera(spark, SF).collect()}
    assert set(got) == set(groups)
    for g, xs in groups.items():
        n = len(xs)
        s1 = sum(xs)
        s2 = sum(x * x for x in xs)
        s3 = sum(x ** 3 for x in xs)
        s4 = sum(x ** 4 for x in xs)
        m1 = s1 / n
        m2 = (s2 - s1 * m1) / n
        m3 = (s3 - 3.0 * s2 * m1 + 2.0 * s1 * m1 * m1) / n
        m4 = (s4 - 4.0 * s3 * m1 + 6.0 * s2 * m1 * m1
              - 3.0 * s1 * m1 ** 3) / n
        skew = m3 / (m2 * math.sqrt(m2))
        exk = m4 / (m2 * m2) - 3
        jb = n * (skew * skew / 6 + exk * exk / 24)
        r = got[g]
        assert r["n"] == n
        assert abs(r["skewness"] - round(skew, 6)) < 1e-9
        assert abs(r["excess_kurtosis"] - round(exk, 6)) < 1e-9
        assert abs(r["jarque_bera"] - round(jb, 4)) < 1e-6
        assert r["excess_kurtosis"] < -0.5   # uniform-ish: platykurtic
        assert r["jarque_bera"] > 50         # decisive rejection


def test_pacf_matches_python_twin(spark):
    """C274 twin: statsmodels-spelling ACF + Durbin-Levinson in
    python over the same dense grid; the 24h seasonality must leave
    ACF(1) strongly positive."""
    x = _hourly_counts(spark, 720)
    n = 720
    s = sum(x)
    from etl_arcgis_spark.operators.timeseries import ts_pacf_levinson
    c = {}
    for k in range(6):
        c[k] = sum((n * x[t] - s) * (n * x[t + k] - s)
                   for t in range(n - k))
    r = [c[k] / c[0] for k in range(6)]
    # Durbin-Levinson
    phi = {1: {1: r[1]}}
    for m in range(2, 6):
        num = r[m] - sum(phi[m - 1][j] * r[m - j] for j in range(1, m))
        den = 1 - sum(phi[m - 1][j] * r[j] for j in range(1, m))
        km = num / den
        phi[m] = {j: phi[m - 1][j] - km * phi[m - 1][m - j]
                  for j in range(1, m)}
        phi[m][m] = km
    got = {rr["lag"]: rr for rr in ts_pacf_levinson(spark, SF).collect()}
    for k in range(1, 6):
        assert abs(got[k]["acf"] - round(r[k], 6)) < 1e-9
        assert abs(got[k]["pacf"] - round(phi[k][k], 6)) < 5e-6
    # structural pins: PACF(1) == ACF(1) by definition; all in [-1, 1]
    assert got[1]["pacf"] == got[1]["acf"]
    assert all(-1.0 <= got[k]["pacf"] <= 1.0 for k in range(1, 6))


def test_chow_matches_python_twin(spark):
    """C275 twin: exact daily quantization + closed-form SSEs in
    python; pooled SSE >= sum of segment SSEs (F >= 0)."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        _CHOW_BREAK,
        _CHOW_DAY0,
        stats_chow_test,
    )

    orders = table(spark, SF, "orders").select(
        "o_orderdate", "o_totalprice").collect()
    daily: collections.Counter = collections.Counter()
    for r in orders:
        t = r["o_orderdate"]
        d = (calendar.timegm(t.timetuple()) * 1_000_000) \
            // 86_400_000_000 - _CHOW_DAY0
        daily[d] += int(round(float(r["o_totalprice"]) * 100))
    pts = [(d, int(round(c / 100000.0))) for d, c in daily.items()]

    def sse(sub):
        n = len(sub)
        sd = sum(d for d, _ in sub)
        sdd = sum(d * d for d, _ in sub)
        sy = sum(y for _, y in sub)
        syd = sum(y * d for d, y in sub)
        syy = sum(y * y for _, y in sub)
        b = (n * syd - sy * sd) / (n * sdd - sd * sd)
        a = (sy - b * sd) / n
        return syy - a * sy - b * syd, n

    sse_p, n = sse(pts)
    sse_a, na = sse([p for p in pts if p[0] < _CHOW_BREAK])
    sse_b, nb_ = sse([p for p in pts if p[0] >= _CHOW_BREAK])
    f = ((sse_p - (sse_a + sse_b)) / 2) / ((sse_a + sse_b) / (n - 4))
    got = stats_chow_test(spark, SF).collect()[0]
    assert (got["n_days"], got["n_before"], got["n_after"]) == (n, na, nb_)
    assert abs(got["sse_pooled"] - round(sse_p, 4)) < 1e-4
    assert abs(got["sse_segments"] - round(sse_a + sse_b, 4)) < 1e-4
    assert abs(got["chow_f"] - round(f, 6)) < 1e-6
    assert got["chow_f"] >= 0
    assert got["sse_pooled"] >= got["sse_segments"] - 1e-9


def test_cooks_distance_matches_python_twin(spark):
    """C276 twin: full python closed-form replay; top-10 selection,
    ordering, and every displayed value must agree; leverage in
    (0,1); sum of all leverages = 2 (trace of the hat matrix)."""
    from etl_arcgis_spark.operators.aggregates import (
        stats_cooks_distance_topk,
    )

    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice").collect()
    rows = [(r["l_orderkey"], r["l_linenumber"], int(r["l_quantity"]),
             int(math.floor(float(r["l_extendedprice"]) + 0.5)))
            for r in li]  # half-away, matching SQL round()
    n = len(rows)
    sx = sum(x for *_, x, _ in [(0, 0, r[2], r[3]) for r in rows])
    sx = sum(r[2] for r in rows)
    sxx = sum(r[2] * r[2] for r in rows)
    sy = sum(r[3] for r in rows)
    sxy = sum(r[2] * r[3] for r in rows)
    syy = sum(r[3] * r[3] for r in rows)
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    mse = (syy - a * sy - b * sxy) / (n - 2)
    sxx_c = sxx - sx * sx / n
    cand = []
    lev_sum = 0.0
    for ok, ln, x, y in rows:
        resid = y - (a + b * x)
        lev = 1.0 / n + (x - sx / n) ** 2 / sxx_c
        lev_sum += lev
        dq = int(round((resid * resid / (2.0 * mse))
                       * (lev / ((1 - lev) ** 2)) * 1e9))
        cand.append((dq, ok, ln, x, y, resid, lev))
    cand.sort(key=lambda c: (-c[0], c[1], c[2]))
    expect = [(ok, ln, x, y, round(resid, 4), round(lev, 6),
               round(dq / 1e9, 6))
              for dq, ok, ln, x, y, resid, lev in cand[:10]]
    got = [(r["l_orderkey"], r["l_linenumber"], r["quantity"],
            r["price_dollars"], r["residual"], r["leverage"], r["cooks_d"])
           for r in stats_cooks_distance_topk(spark, SF).collect()]
    assert got == expect
    assert all(0 < g[5] < 1 for g in got)
    assert abs(lev_sum - 2.0) < 1e-6


def test_watermark_late_audit_matches_python_twin(spark):
    """C277 twin: sequential replay of the planted arrival order and
    high-water mark in python; per-type counts must agree and the
    planted block reorder must produce SOME late events."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.streaming_batch import (
        stream_watermark_late_audit,
    )

    ev = table(spark, SF, "events").select(
        "event_id", "event_type", "ts").collect()
    rows = []
    for r in ev:
        t = r["ts"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        rows.append((r["event_id"] // 64,
                     hashlib.md5(str(r["event_id"]).encode()).hexdigest(),
                     r["event_type"], us))
    rows.sort(key=lambda r: (r[0], r[1]))
    hw = 0
    stats: dict = collections.defaultdict(lambda: [0, 0, 0])
    for _, _, et, t in rows:
        s = stats[et]
        s[0] += 1
        if hw - t > 3_600_000_000:
            s[1] += 1
        if hw > t:
            s[2] = max(s[2], (hw - t) // 1_000_000)
        hw = max(hw, t)
    got = {r["event_type"]: (r["n_events"], r["n_late_1h"],
                             r["max_lateness_sec"])
           for r in stream_watermark_late_audit(spark, SF).collect()}
    assert got == {k: tuple(v) for k, v in stats.items()}
    assert sum(v[1] for v in stats.values()) > 0  # reorder bites
    # lateness bounded by the widest single block's time span
    # (reorder is block-local, so nothing can be later than that)
    spans: dict = {}
    for blk, _, _, t in rows:
        lo, hi = spans.get(blk, (t, t))
        spans[blk] = (min(lo, t), max(hi, t))
    max_span_sec = max((hi - lo) // 1_000_000 for lo, hi in spans.values())
    assert all(v[2] <= max_span_sec for v in stats.values())


def test_brier_calibration_matches_python_twin(spark):
    """C278 twin: exact integer replay of bins, means, and the Brier
    numerator; Brier decomposition sanity (score in [0,1])."""
    import collections

    from etl_arcgis_spark.operators.aggregates import ml_brier_calibration

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_discount", "l_tax").collect()
    bins: dict = collections.defaultdict(lambda: [0, 0, 0])
    bq_tot = n_tot = 0
    for r in li:
        s = int(round(float(r["l_discount"]) * 100)) * 10 + int(
            round(float(r["l_tax"]) * 100))
        y = 1 if r["l_returnflag"] == "R" else 0
        b = min(s * 10 // 108, 9)
        e = bins[b]
        e[0] += 1
        e[1] += s
        e[2] += y
        bq_tot += (s - 108 * y) ** 2
        n_tot += 1
    brier = bq_tot / n_tot / 11664
    got = {r["bin"]: r for r in ml_brier_calibration(spark, SF).collect()}
    assert set(got) == set(bins)
    for b, (n, ssum, ysum) in bins.items():
        r = got[b]
        assert r["n"] == n
        assert abs(r["mean_predicted"] - round(ssum / (108 * n), 6)) < 1e-9
        assert abs(r["frac_positive"] - round(ysum / n, 6)) < 1e-9
        assert abs(r["brier_score"] - round(brier, 6)) < 1e-9
    assert 0.0 <= brier <= 1.0


def test_apsp_matches_python_twin(spark):
    """C279 twin: Floyd-Warshall in python on the same brand-bounded
    graph; diameter, pair count, and mean geodesic must agree, and
    the triangle-inequality invariant must hold."""
    import collections
    import itertools

    from etl_arcgis_spark.operators.graph import graph_diameter_apsp

    parts = table(spark, SF, "part").select("p_partkey", "p_brand").collect()
    brand = min(p["p_brand"] for p in parts)
    keep = set(sorted(
        p["p_partkey"] for p in parts if p["p_brand"] == brand)[:100])
    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey").collect()
    baskets: dict = collections.defaultdict(set)
    for r in li:
        if r["l_partkey"] in keep:
            baskets[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            edges.add((a, b))
    nodes = sorted({x for e in edges for x in e})
    INF = float("inf")
    d = {(a, b): INF for a in nodes for b in nodes}
    for a in nodes:
        d[(a, a)] = 0
    for a, b in edges:
        d[(a, b)] = d[(b, a)] = 1
    for k in nodes:
        for i in nodes:
            dik = d[(i, k)]
            if dik is INF:
                continue
            for j in nodes:
                if dik + d[(k, j)] < d[(i, j)]:
                    d[(i, j)] = dik + d[(k, j)]
    finite = [v for (a, b), v in d.items() if a != b and v < INF]
    got = graph_diameter_apsp(spark, SF).collect()[0]
    assert got["n_nodes"] == len(nodes)
    assert got["n_connected_pairs"] == len(finite)
    assert got["diameter"] == max(finite)
    assert abs(got["avg_shortest_path"]
               - round(sum(finite) / len(finite), 6)) < 1e-9


def test_adaboost_matches_python_raw_row_replay(spark):
    """C280 twin: independent replay from RAW ROWS (not the
    operator's count table) with per-row weights — the grouped
    trajectory must match exactly; fixture honesty: eps just under
    0.5 after round 1, alphas decreasing in magnitude."""
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        _ADA_ROUNDS,
        ml_adaboost_stumps,
    )

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount").collect()
    counts: collections.Counter = collections.Counter()
    for r in li:
        counts[(1 if r["l_returnflag"] == "R" else -1,
                int(r["l_quantity"]),
                int(round(float(r["l_discount"]) * 100)))] += 1
    gs = [[y, q, d, c, 1000000000, 0] for (y, q, d), c in counts.items()]
    n = sum(g[3] for g in gs)
    cands = ([("d", th, pol) for th in range(0, 10) for pol in (1, -1)]
             + [("q", th, pol) for th in range(1, 50) for pol in (1, -1)])

    def h(g, c):
        f, th, pol = c
        v = g[1] if f == "q" else g[2]
        return pol if v <= th else -pol

    expect = []
    for t in range(1, _ADA_ROUNDS + 1):
        wt = sum(g[3] * g[4] for g in gs)
        best = min((sum(g[3] * g[4] for g in gs if h(g, c) != g[0]),
                    c[0], c[1], c[2]) for c in cands)
        mnum, f, th, pol = best
        alpha = 0.5 * math.log((wt - mnum) / float(mnum))
        a9 = int(math.floor(abs(alpha) * 1e9 + 0.5)) * (1 if alpha >= 0 else -1)
        for g in gs:
            hg = h(g, (f, th, pol))
            g[4] = int(math.floor(
                g[4] * math.exp(-alpha if hg == g[0] else alpha) + 0.5))
            g[5] += a9 * hg
        mis = sum(g[3] for g in gs if g[0] * g[5] <= 0)
        expect.append((t, f, th, pol, round(mnum / float(wt), 6),
                       round(alpha, 6), round(mis / float(n), 6)))
    got = [(r["round"], r["feature"], r["threshold"], r["polarity"],
            r["eps"], r["alpha"], r["ensemble_err"])
           for r in sorted(ml_adaboost_stumps(spark, SF).collect())]
    assert got == expect
    # honesty pins on the feature-independent fixture
    assert all(0.3 < e[4] < 0.5 for e in expect)
    assert abs(expect[1][5]) < abs(expect[0][5])  # alpha shrinks
    assert all(e[6] <= 0.5 for e in expect)


def test_shapley_r2_matches_numpy_twin(spark):
    """C281 twin: every R^2 via numpy lstsq on raw rows; Shapley
    efficiency (phi_q + phi_d == R2_full) and additivity of the LMG
    average."""
    import numpy as np

    from etl_arcgis_spark.operators.aggregates import (
        ml_shapley_r2_decomposition,
    )

    li = table(spark, SF, "lineitem").select(
        "l_extendedprice", "l_quantity", "l_discount").collect()
    y = np.array([float(r["l_extendedprice"]) for r in li])
    q = np.array([float(r["l_quantity"]) for r in li])
    d = np.array([round(float(r["l_discount"]) * 100) for r in li])

    def r2(*feats):
        X = np.column_stack([np.ones(len(y))] + list(feats))
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        pred = X @ beta
        return 1 - np.sum((y - pred) ** 2) / np.sum((y - y.mean()) ** 2)

    r2q, r2d, r2f = r2(q), r2(d), r2(q, d)
    got = ml_shapley_r2_decomposition(spark, SF).collect()[0]
    assert got["n"] == len(y)
    assert abs(got["r2_full"] - r2f) < 1e-6
    assert abs(got["r2_quantity_alone"] - r2q) < 1e-6
    assert abs(got["r2_discount_alone"] - r2d) < 1e-6
    phi_q = 0.5 * r2q + 0.5 * (r2f - r2d)
    phi_d = 0.5 * r2d + 0.5 * (r2f - r2q)
    assert abs(got["shapley_quantity"] - phi_q) < 1e-6
    assert abs(got["shapley_discount"] - phi_d) < 1e-6
    # Shapley efficiency: the attributions exhaust the full R^2
    assert abs((got["shapley_quantity"] + got["shapley_discount"])
               - got["r2_full"]) < 2e-6


def test_infogain_ranking_matches_python_twin(spark):
    """C282 twin: exact contingency entropies in python for all five
    features; IG >= 0 always, and near zero on the independent
    fixture label."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        ml_feature_infogain_ranking,
    )

    li = table(spark, SF, "lineitem").select(
        "l_quantity", "l_discount", "l_tax", "l_returnflag",
        "l_linenumber", "l_shipdate").collect()
    feats: dict = collections.defaultdict(list)
    ys = []
    for r in li:
        t = r["l_shipdate"]
        days = (calendar.timegm(t.timetuple()) * 1_000_000) // 86_400_000_000
        y = 1 if r["l_returnflag"] == "R" else 0
        ys.append(y)
        feats["quantity"].append(int(r["l_quantity"]))
        feats["discount_pct"].append(int(round(float(r["l_discount"]) * 100)))
        feats["tax_pct"].append(int(round(float(r["l_tax"]) * 100)))
        feats["ship_dow"].append((days + 4) % 7)
        feats["linenumber"].append(int(r["l_linenumber"]))
    n = len(ys)
    ylog = sum(c * math.log(c)
               for c in collections.Counter(ys).values())
    expect = {}
    for name, vs in feats.items():
        cells = collections.Counter(zip(vs, ys))
        vmarg = collections.Counter(vs)
        ig = (math.log(n) - ylog / n
              - sum(c * math.log(c) for c in vmarg.values()) / n
              + sum(c * math.log(c) for c in cells.values()) / n)
        expect[name] = (len(vmarg), round(ig, 6))
    got = {r["feature"]: (r["n_values"], r["info_gain_nats"])
           for r in ml_feature_infogain_ranking(spark, SF).collect()}
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0]
        assert abs(got[k][1] - expect[k][1]) < 1e-6
        assert got[k][1] >= -1e-9        # IG is non-negative
        assert got[k][1] < 0.02          # independent label: near zero


def test_median_ci_matches_python_twin(spark):
    """C283 twin: exact rank replay; lo <= median <= hi."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_median_ci_order

    orders = table(spark, SF, "orders").select(
        "o_orderdate", "o_totalprice").collect()
    daily: collections.Counter = collections.Counter()
    for r in orders:
        t = r["o_orderdate"]
        d = (calendar.timegm(t.timetuple()) * 1_000_000) // 86_400_000_000
        daily[d] += int(round(float(r["o_totalprice"]) * 100))
    ys = sorted(
        (int(math.floor(c / 100000.0 + 0.5)), d) for d, c in daily.items()
    )
    n = len(ys)
    lo_r = int(math.floor((n - 1.959964 * math.sqrt(n)) / 2))
    hi_r = n + 1 - lo_r
    med_r = (n + 1) // 2
    got = stats_median_ci_order(spark, SF).collect()[0]
    assert got["n_days"] == n
    assert got["median_kdollars"] == ys[med_r - 1][0]
    assert got["ci95_lo_kdollars"] == ys[lo_r - 1][0]
    assert got["ci95_hi_kdollars"] == ys[hi_r - 1][0]
    assert (got["ci95_lo_kdollars"] <= got["median_kdollars"]
            <= got["ci95_hi_kdollars"])


def test_huber_matches_python_twin(spark):
    """C284 twin: exact IRLS replay on the value-count table; the
    M-estimate must sit within the data range and differ from (or
    coincide with) the plain mean in a bounded way."""
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        _HUBER_ITERS,
        _HUBER_K,
        stats_huber_m_estimator,
    )

    li = table(spark, SF, "lineitem").select("l_quantity").collect()
    counts = collections.Counter(int(r["l_quantity"]) for r in li)
    m = sum(v * c for v, c in counts.items()) / sum(counts.values())
    expect = []
    for t in range(1, _HUBER_ITERS + 1):
        num = den = 0.0
        for v, c in counts.items():
            w = 1.0 if abs(v - m) <= _HUBER_K else _HUBER_K / abs(v - m)
            num += w * c * v
            den += w * c
        m6 = int(math.floor((num / den) * 1e6 + 0.5))
        m = m6 / 1e6
        expect.append((t, m6, round(m, 6)))
    got = [(r["iter"], r["m_micro"], r["m_estimate"])
           for r in sorted(stats_huber_m_estimator(spark, SF).collect())]
    assert got == expect
    assert 1 <= got[-1][2] <= 50
    plain = sum(v * c for v, c in counts.items()) / sum(counts.values())
    assert abs(got[-1][2] - plain) < 5  # same ballpark, robustly shifted


def test_qq_deciles_matches_python_twin(spark):
    """C285 twin: percentile_disc replay per group; the
    identically-distributed fixture groups keep every |qq_diff|
    tiny."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_qq_deciles

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity").collect()
    groups: dict = collections.defaultdict(list)
    for r in li:
        if r["l_returnflag"] in ("R", "N"):
            groups[1 if r["l_returnflag"] == "R" else 0].append(
                int(r["l_quantity"]))

    def disc(xs, d):
        xs = sorted(xs)
        n = len(xs)
        k = -(-d * n // 10)  # ceil(d*n/10)
        return xs[k - 1]

    got = {r["decile"]: r for r in stats_qq_deciles(spark, SF).collect()}
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        qr, qd = disc(groups[1], d), disc(groups[0], d)
        assert got[d]["q_returned"] == qr
        assert got[d]["q_delivered"] == qd
        assert got[d]["qq_diff"] == qr - qd
        assert abs(got[d]["qq_diff"]) <= 2  # same underlying distribution


def test_join_key_skew_matches_python_twin(spark):
    """C286 twin: exact key-frequency profile per join key; the
    ordering by skew and every statistic replayed."""
    import collections

    from etl_arcgis_spark.operators.quality import (
        _SKEW_KEYS,
        dq_join_key_skew,
    )

    li = table(spark, SF, "lineitem").select(*_SKEW_KEYS).collect()
    expect = {}
    for key in _SKEW_KEYS:
        c = collections.Counter(r[key] for r in li)
        n_keys, n_rows, mx = len(c), sum(c.values()), max(c.values())
        expect[key] = (n_keys, n_rows, mx,
                       round(mx * n_keys / n_rows, 4),
                       round(mx / n_rows, 6))
    got = {r["join_key"]: (r["n_keys"], r["n_rows"], r["max_group"],
                           r["max_over_mean"], r["top_key_row_share"])
           for r in dq_join_key_skew(spark, SF).collect()}
    assert got == expect
    for v in got.values():
        assert v[3] >= 1.0  # max/mean is at least 1 by definition


def test_lift_gains_matches_python_twin(spark):
    """C287 twin: exact cumulative capture replay at every decile
    cut; lift ~ 1 on the score-independent label, final gain = 1."""
    import collections

    from etl_arcgis_spark.operators.aggregates import ml_lift_gains_table

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_discount", "l_tax").collect()
    per_s: dict = collections.defaultdict(lambda: [0, 0])
    for r in li:
        s = int(round(float(r["l_discount"]) * 100)) * 10 + int(
            round(float(r["l_tax"]) * 100))
        e = per_s[s]
        e[0] += 1
        e[1] += 1 if r["l_returnflag"] == "R" else 0
    n = sum(v[0] for v in per_s.values())
    npos = sum(v[1] for v in per_s.values())
    cum = []
    ccnt = cpos = 0
    for s in sorted(per_s, reverse=True):
        ccnt += per_s[s][0]
        cpos += per_s[s][1]
        cum.append((s, ccnt, cpos))
    expect = {}
    for d in range(1, 11):
        for s, ccnt, cpos in cum:
            if ccnt * 10 >= d * n:
                expect[d] = (ccnt, cpos, round(cpos / npos, 6),
                             round((cpos / npos) / (ccnt / n), 6))
                break
    got = {r["decile"]: (r["n_contacted"], r["n_captured"], r["gain"],
                         r["lift"])
           for r in ml_lift_gains_table(spark, SF).collect()}
    assert got == expect
    assert got[10][2] == 1.0                  # full population: gain 1
    assert all(0.8 < v[3] < 1.2 for v in got.values())  # no signal


def test_croston_matches_python_twin(spark):
    """C288 twin: replay the truncated-EWMA at the last demand
    period; forecast positive and below the max hourly demand."""
    import calendar
    import collections

    from etl_arcgis_spark.operators.timeseries import (
        ts_croston_intermittent,
    )

    ev = table(spark, SF, "events").select("event_type", "ts").collect()
    cnt: collections.Counter = collections.Counter()
    for r in ev:
        if r["event_type"] == "purchase":
            t = r["ts"]
            us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
            cnt[us // 3_600_000_000] += 1
    ks = sorted(cnt)
    xs = [cnt[k] for k in ks]
    ivs = [None] + [ks[i] - ks[i - 1] for i in range(1, len(ks))]
    wsum = sum(2.0 ** -(i + 1) for i in range(16))
    T = len(ks) - 1
    z = sum((xs[T - i] if T - i >= 0 else 0) * 2.0 ** -(i + 1)
            for i in range(16)) / wsum
    p = sum(((ivs[T - i] or 0) if T - i >= 0 else 0) * 2.0 ** -(i + 1)
            for i in range(16)) / wsum
    got = ts_croston_intermittent(spark, SF).collect()[0]
    assert got["n_demand_periods"] == len(ks)
    assert abs(got["size_ewma"] - round(z, 6)) < 1e-9
    assert abs(got["interval_ewma"] - round(p, 6)) < 1e-9
    assert abs(got["croston_per_hour"] - round(z / p, 6)) < 1e-9
    assert abs(got["sba_per_hour"] - round(0.75 * z / p, 6)) < 1e-9
    assert 0 < got["croston_per_hour"] <= max(xs)


def test_anova_twoway_matches_python_twin(spark):
    """C289 twin: exact cell-moment SS decomposition; SS identity
    (cells = A + B + interaction) and small F on independent
    factors."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_anova_twoway

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity").collect()
    cell: dict = collections.defaultdict(lambda: [0, 0, 0])
    for r in li:
        c = cell[(r["l_returnflag"], r["l_linestatus"])]
        q = int(r["l_quantity"])
        c[0] += 1
        c[1] += q
        c[2] += q * q
    n = sum(c[0] for c in cell.values())
    s = sum(c[1] for c in cell.values())
    q2 = sum(c[2] for c in cell.values())
    ma: dict = collections.defaultdict(lambda: [0, 0])
    mb: dict = collections.defaultdict(lambda: [0, 0])
    for (a, b), c in cell.items():
        ma[a][0] += c[0]
        ma[a][1] += c[1]
        mb[b][0] += c[0]
        mb[b][1] += c[1]
    corr = s * s / n
    ss_a = sum(v[1] ** 2 / v[0] for v in ma.values()) - corr
    ss_b = sum(v[1] ** 2 / v[0] for v in mb.values()) - corr
    ss_cells = sum(c[1] ** 2 / c[0] for c in cell.values()) - corr
    ss_w = q2 - sum(c[1] ** 2 / c[0] for c in cell.values())
    got = stats_anova_twoway(spark, SF).collect()[0]
    assert got["n_rows"] == n
    assert abs(got["ss_returnflag"] - round(ss_a, 4)) < 1e-3
    assert abs(got["ss_linestatus"] - round(ss_b, 4)) < 1e-3
    assert abs(got["ss_interaction"] - round(ss_cells - ss_a - ss_b, 4)) < 1e-3
    assert abs(got["ss_within"] - round(ss_w, 4)) < 1e-3
    # independent synthetic factors: F values stay small
    assert got["f_returnflag"] < 10
    assert got["f_interaction"] < 10


def test_stuart_maxwell_matches_python_twin(spark):
    """C290 twin: exact confusion-matrix replay; the planted %5
    marginal shift must make the test reject decisively."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_stuart_maxwell

    docs = [r["doc_id"] for r in
            table(spark, SF, "documents").select("doc_id").collect()]

    def basev(did):
        h = hashlib.md5(str(did).encode()).hexdigest()
        return "abc"["0123456789abcdef".index(h[0]) % 3]

    cm: collections.Counter = collections.Counter()
    for did in docs:
        r1 = basev(did)
        sh = {"a": "b", "b": "c", "c": "a"}[r1]
        r2 = sh if did % 5 == 0 else r1
        cm[(r1, r2)] += 1
    r1m = collections.Counter()
    r2m = collections.Counter()
    for (a, b), c in cm.items():
        r1m[a] += c
        r2m[b] += c
    d1 = r1m["a"] - r2m["a"]
    d2 = r1m["b"] - r2m["b"]
    s11 = (cm[("a", "b")] + cm[("b", "a")]) / 2 \
        + (cm[("a", "c")] + cm[("c", "a")]) / 2
    s22 = (cm[("a", "b")] + cm[("b", "a")]) / 2 \
        + (cm[("b", "c")] + cm[("c", "b")]) / 2
    s12 = -(cm[("a", "b")] + cm[("b", "a")]) / 2
    chi2 = (s22 * d1 * d1 - 2 * s12 * d1 * d2 + s11 * d2 * d2) \
        / (s11 * s22 - s12 * s12)
    got = stats_stuart_maxwell(spark, SF).collect()[0]
    assert got["marg_diff_a"] == d1
    assert got["marg_diff_b"] == d2
    assert abs(got["stuart_maxwell_chi2"] - round(chi2, 6)) < 1e-6
    assert got["stuart_maxwell_chi2"] > 13.8  # reject at alpha=0.001, df=2


def test_cochran_armitage_matches_python_twin(spark):
    """C291 twin: exact moment replay; modest |z| on independent
    exposure."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_cochran_armitage

    li = table(spark, SF, "lineitem").select(
        "l_quantity", "l_returnflag").collect()
    g: dict = collections.defaultdict(lambda: [0, 0])
    for r in li:
        e = g[int(r["l_quantity"])]
        e[0] += 1
        e[1] += 1 if r["l_returnflag"] == "R" else 0
    n = sum(v[0] for v in g.values())
    R = sum(v[1] for v in g.values())
    swr = sum(w * v[1] for w, v in g.items())
    swn = sum(w * v[0] for w, v in g.items())
    swwn = sum(w * w * v[0] for w, v in g.items())
    num = n * swr - R * swn
    var = R * (n - R) * (n * swwn - swn * swn) / n
    z = num / math.sqrt(var)
    got = stats_cochran_armitage(spark, SF).collect()[0]
    assert (got["n_rows"], got["n_returned"]) == (n, R)
    assert abs(got["z_trend"] - round(z, 6)) < 1e-6
    assert abs(got["chi2_trend"] - round(z * z, 6)) < 1e-5
    assert abs(z) < 4


def test_capture_recapture_matches_python_twin(spark):
    """C292 twin: exact slice counts; Chapman estimate within ~4 SE
    of the known truth (the estimator's own accuracy contract)."""
    docs = [r["doc_id"] for r in
            table(spark, SF, "documents").select("doc_id").collect()]
    n1 = sum(1 for d in docs if d % 5 == 1)
    n2 = sum(1 for d in docs if d % 7 == 1)
    m12 = sum(1 for d in docs if d % 5 == 1 and d % 7 == 1)
    n_true = len(docs)
    est = (n1 + 1) * (n2 + 1) / (m12 + 1) - 1
    se = math.sqrt((n1 + 1) * (n2 + 1) * (n1 - m12) * (n2 - m12)
                   / ((m12 + 1) ** 2 * (m12 + 2)))
    from etl_arcgis_spark.operators.aggregates import stats_capture_recapture
    got = stats_capture_recapture(spark, SF).collect()[0]
    assert (got["sample1"], got["sample2"], got["recaptured"],
            got["n_true"]) == (n1, n2, m12, n_true)
    assert abs(got["chapman_estimate"] - round(est, 4)) < 1e-6
    assert abs(got["chapman_se"] - round(se, 4)) < 1e-6
    assert abs(est - n_true) < 4 * se + 1


def test_threshold_cost_matches_python_twin(spark):
    """C293 twin: replay the full cost curve; the chosen cut must be
    the global argmin and beat both degenerate policies."""
    import collections

    from etl_arcgis_spark.operators.aggregates import (
        _FN_COST,
        _FP_COST,
        ml_threshold_cost_optimal,
    )

    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_discount", "l_tax").collect()
    per_s: dict = collections.defaultdict(lambda: [0, 0])
    for r in li:
        s = int(round(float(r["l_discount"]) * 100)) * 10 + int(
            round(float(r["l_tax"]) * 100))
        e = per_s[s]
        e[0] += 1
        e[1] += 1 if r["l_returnflag"] == "R" else 0
    npos = sum(v[1] for v in per_s.values())
    curve = []
    tp = fp = 0
    for s in sorted(per_s, reverse=True):
        tp += per_s[s][1]
        fp += per_s[s][0] - per_s[s][1]
        curve.append((_FP_COST * fp + _FN_COST * (npos - tp), s, tp, fp))
    best = min(curve, key=lambda c: (c[0], c[1]))
    got = ml_threshold_cost_optimal(spark, SF).collect()[0]
    assert got["threshold"] == best[1]
    assert (got["tp"], got["fp"]) == (best[2], best[3])
    assert got["total_cost"] == best[0]
    cost_none = _FN_COST * npos            # predict nothing positive
    n_all = sum(v[0] for v in per_s.values())
    cost_all = _FP_COST * (n_all - npos)   # predict everything positive
    assert got["total_cost"] <= min(cost_none, cost_all)


def test_learning_curve_matches_numpy_and_nests(spark):
    """C294 twin: numpy lstsq per nested subset; counts nest, R^2
    values match, coefficients converge toward the full-data fit."""
    import numpy as np

    from etl_arcgis_spark.operators.aggregates import ml_learning_curve

    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity",
        "l_discount").collect()
    got = {r["eighths"]: r for r in ml_learning_curve(spark, SF).collect()}
    assert set(got) == {1, 2, 4, 8}
    prev_n = 0
    for f in (1, 2, 4, 8):
        sub = [r for r in li if r["l_orderkey"] % 8 < f]
        y = np.array([float(r["l_extendedprice"]) for r in sub])
        X = np.column_stack([
            np.ones(len(sub)),
            np.array([float(r["l_quantity"]) for r in sub]),
            np.array([round(float(r["l_discount"]) * 100) for r in sub]),
        ])
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        pred = X @ beta
        r2 = 1 - float(np.sum((y - pred) ** 2)) \
            / float(np.sum((y - y.mean()) ** 2))
        r = got[f]
        assert r["n_rows"] == len(sub)
        assert r["n_rows"] > prev_n
        prev_n = r["n_rows"]
        assert abs(r["b1_per_qty_dollars"] - beta[1]) < 1e-3
        assert abs(r["b2_per_pct_dollars"] - beta[2]) < 1e-2
        assert abs(r["r2"] - r2) < 1e-6
    # convergence: the half-data fit sits closer to the full fit
    # than the eighth-data fit does (in slope-vector L2)
    d = lambda a, b: math.hypot(a["b1_per_qty_dollars"] - b["b1_per_qty_dollars"],
                                a["b2_per_pct_dollars"] - b["b2_per_pct_dollars"])
    assert d(got[4], got[8]) <= d(got[1], got[8]) + 1e-9


def test_multiclass_eval_matches_python_twin(spark):
    """C295 twin: exact confusion replay; micro-F1 = accuracy;
    precision = prevalence per class on the independent rule."""
    import collections

    from etl_arcgis_spark.operators.aggregates import ml_multiclass_eval

    li = table(spark, SF, "lineitem").select(
        "l_quantity", "l_returnflag").collect()
    cm: collections.Counter = collections.Counter()
    for r in li:
        q = int(r["l_quantity"])
        pred = "A" if q <= 17 else ("N" if q <= 34 else "R")
        cm[(pred, r["l_returnflag"])] += 1
    n = sum(cm.values())
    got = {r["class"]: r for r in ml_multiclass_eval(spark, SF).collect()}
    assert set(got) == {"A", "N", "R"}
    f1s = []
    tp_all = 0
    for c in "ANR":
        tp = cm[(c, c)]
        pred_n = sum(v for (p, _), v in cm.items() if p == c)
        act_n = sum(v for (_, a), v in cm.items() if a == c)
        tp_all += tp
        r = got[c]
        assert (r["tp"], r["pred_n"], r["actual_n"]) == (tp, pred_n, act_n)
        assert abs(r["prec"] - round(tp / pred_n, 6)) < 1e-9
        assert abs(r["rec"] - round(tp / act_n, 6)) < 1e-9
        f1 = 2 * tp / (pred_n + act_n)
        assert abs(r["f1"] - round(f1, 6)) < 1e-9
        f1s.append(f1)
        # independent rule: precision ~ class prevalence
        assert abs(r["prec"] - act_n / n) < 0.05
    assert abs(got["A"]["macro_f1"] - round(sum(f1s) / 3, 6)) < 1e-6
    assert abs(got["A"]["micro_f1"] - round(tp_all / n, 6)) < 1e-9


def test_dunn_posthoc_matches_python_twin(spark):
    """C296 twin: pooled-midrank pairwise z replay; no significant
    pair on identically-distributed groups."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_dunn_posthoc

    li = table(spark, SF, "lineitem").select(
        "l_discount", "l_returnflag").collect()
    vals = [(int(round(float(r["l_discount"]) * 100)), r["l_returnflag"])
            for r in li]
    per_v = collections.Counter(v for v, _ in vals)
    n = len(vals)
    midrank = {}
    below = 0
    for v in sorted(per_v):
        midrank[v] = below + (per_v[v] + 1) / 2
        below += per_v[v]
    gr: dict = collections.defaultdict(lambda: [0, 0.0])
    for v, g in vals:
        e = gr[g]
        e[0] += 1
        e[1] += midrank[v]
    ties = sum(c ** 3 - c for c in per_v.values())
    var_term = n * (n + 1) / 12 - ties / (12 * (n - 1))
    got = {(r["group_a"], r["group_b"]): r
           for r in stats_dunn_posthoc(spark, SF).collect()}
    gs = sorted(gr)
    n_pairs = 0
    for i in range(len(gs)):
        for j in range(i + 1, len(gs)):
            a, b = gs[i], gs[j]
            diff = gr[a][1] / gr[a][0] - gr[b][1] / gr[b][0]
            se = math.sqrt(var_term * (1 / gr[a][0] + 1 / gr[b][0]))
            r = got[(a, b)]
            assert abs(r["mean_rank_diff"] - round(diff, 4)) < 1e-6
            assert abs(r["dunn_z"] - round(diff / se, 6)) < 1e-6
            assert r["significant_bonferroni"] == (
                1 if abs(diff / se) > 2.394 else 0)
            assert r["significant_bonferroni"] == 0  # same distribution
            n_pairs += 1
    assert n_pairs == len(got) == 3


def test_odds_ratio_mh_matches_python_twin(spark):
    """C297 twin: per-stratum cell replay, RBG variance; OR ~ 1 with
    a covering CI on the independent fixture."""
    import collections

    from etl_arcgis_spark.operators.aggregates import stats_odds_ratio_mh

    li = table(spark, SF, "lineitem").select(
        "l_linestatus", "l_quantity", "l_returnflag").collect()
    cells: dict = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r in li:
        exp = int(r["l_quantity"]) > 25
        out = r["l_returnflag"] == "R"
        idx = 0 if (exp and out) else 1 if exp else 2 if out else 3
        cells[r["l_linestatus"]][idx] += 1
    R = S = prr = psqr = qss = 0.0
    for a, b, c, d in cells.values():
        nn = a + b + c + d
        R += a * d / nn
        S += b * c / nn
        prr += (a + d) / nn * (a * d / nn)
        psqr += ((a + d) / nn) * (b * c / nn) + ((b + c) / nn) * (a * d / nn)
        qss += ((b + c) / nn) * (b * c / nn)
    or_mh = R / S
    se = math.sqrt(prr / (2 * R * R) + psqr / (2 * R * S) + qss / (2 * S * S))
    got = stats_odds_ratio_mh(spark, SF).collect()[0]
    assert got["n_strata"] == len(cells)
    assert abs(got["or_mantel_haenszel"] - round(or_mh, 6)) < 1e-6
    assert abs(got["se_log_or"] - round(se, 6)) < 1e-6
    assert abs(got["or_ci95_lo"]
               - round(math.exp(math.log(or_mh) - 1.959964 * se), 6)) < 1e-5
    assert got["or_ci95_lo"] < 1.0 < got["or_ci95_hi"]  # CI covers null
    assert 0.8 < got["or_mantel_haenszel"] < 1.25


def test_free_checkpoint_releases_blocks(spark):
    """Optimization r12 session hygiene: free_checkpoint drops the
    storage blocks behind a dead localCheckpoint (and is a safe no-op
    on frames that never were one)."""
    from pyspark.sql import functions as F

    from etl_arcgis_spark.operators.scale_patterns import free_checkpoint

    sc = spark.sparkContext
    base = sc._jsc.sc().getPersistentRDDs().size()
    ck = spark.range(10000).select(F.col("id") * 2).localCheckpoint(eager=True)
    assert sc._jsc.sc().getPersistentRDDs().size() == base + 1
    free_checkpoint(ck)
    assert sc._jsc.sc().getPersistentRDDs().size() == base
    # no-op path: a plain (non-checkpointed) frame
    free_checkpoint(spark.range(5).select(F.col("id")))


def test_min_label_rounds_free_their_checkpoints(spark):
    """propagate_min_labels keeps at most the CURRENT round's label
    barrier alive (plus the lazily barriered edge list, freed when the
    loop ends): peak storage O(1 round), not O(rounds)."""
    from etl_arcgis_spark.operators.dedup import propagate_min_labels

    sc = spark.sparkContext
    base = sc._jsc.sc().getPersistentRDDs().size()
    # a 12-node path graph: several propagation rounds before converging
    nodes = spark.createDataFrame([(i,) for i in range(12)], "doc_id int")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a int, id_b int"
    )
    labels = propagate_min_labels(nodes, pairs)
    got = {r["doc_id"]: r["component_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(12)}
    # only the final labels + endpoint checkpoints may remain pinned
    assert sc._jsc.sc().getPersistentRDDs().size() <= base + 2


def test_corpus_funnel_drops_stage_views(spark):
    """The corpus stage views must not outlive the query build — a
    catalog pin would keep documents-scale checkpoint blocks alive for
    the whole session (optimization r12 session hygiene)."""
    from etl_arcgis_spark.operators.corpus import corpus_clean_funnel

    df = corpus_clean_funnel(spark, SF)
    names = {t.name for t in spark.catalog.listTables()}
    assert not {n for n in names if n.startswith("corpus_f_")}
    assert df.count() == 5  # the plan still reads its checkpoints


def test_pca_gram_mapinpandas_matches_sql_join(spark):
    """Optimization r12: the per-partition numpy int64 GEMM Gram must
    equal the old vec_id-self-join SQL spelling cell for cell (exact
    BIGINT, so order-free) — including the HALF_UP quantization edge
    (copysign(floor(|v|+0.5)) == round(v, 0) for |v| < 2^52)."""
    from etl_arcgis_spark.tables import sql_over, table

    gram_sql = (
        "WITH v AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE)"
        " * 1000, 0) AS BIGINT) AS qx FROM (SELECT vec_id,"
        " posexplode(embedding) AS (i, x) FROM embeddings))"
        " SELECT a.i AS i, b.i AS j, CAST(sum(a.qx * b.qx) AS BIGINT) AS g"
        " FROM v a JOIN v b ON a.vec_id = b.vec_id GROUP BY a.i, b.i"
    )
    old = {
        (r["i"], r["j"]): r["g"]
        for r in sql_over(spark, SF, gram_sql, ("embeddings",)).collect()
    }

    def parts(it):
        import numpy as np
        import pandas as pd

        G = None
        for pdf in it:
            if not len(pdf):
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            V = M * 1000.0
            Q = np.copysign(np.floor(np.abs(V) + 0.5), V).astype(np.int64)
            g = Q.T @ Q
            G = g if G is None else G + g
        if G is not None:
            dd = G.shape[0]
            ii, jj = np.unravel_index(np.arange(dd * dd), (dd, dd))
            yield pd.DataFrame(
                {"i": ii.astype("int32"), "j": jj.astype("int32"), "g": G.ravel()}
            )

    got: dict = {}
    emb = table(spark, SF, "embeddings").select("embedding")
    for r in emb.mapInPandas(parts, "i int, j int, g long").collect():
        got[(r["i"], r["j"])] = got.get((r["i"], r["j"]), 0) + r["g"]
    assert old == got


def test_min_label_isolated_nodes_are_singletons(spark):
    """The r12 active-set restriction must keep isolated nodes as
    singleton components (identical to looping over every node)."""
    from etl_arcgis_spark.operators.dedup import propagate_min_labels

    nodes = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id int"
    )
    # two components {1,3,5} and {6,7}; 0,2,4,8,9 isolated
    pairs = spark.createDataFrame(
        [(3, 5), (1, 3), (6, 7)], "id_a int, id_b int"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in propagate_min_labels(nodes, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 6, 7: 6, 8: 8, 9: 9}
