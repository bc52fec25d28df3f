"""Brute-force cross-checks for the round-7 statistical operators: the
clever algebra (doubled-midrank Pettitt, cumulative-subtraction at-risk
counts, integer-lattice KS with BH ranking) must agree with a naive
O(n^2) / per-subject Python model on arbitrary small inputs, ties and
censoring included."""

import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import example, given, settings, strategies as st
import pytest

from pyspark.sql import functions as F


def _mk_events(spark, values):
    rows = [
        (i, f"2024-01-{i + 1:02d} 00:00:00", "click", float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _round_half_up(x, nd):
    """Spark's ``F.round`` on a double: half-up on the value's shortest
    decimal form (Python's ``round`` is half-even on the binary value,
    so an exact tie such as 0.4453125 comes out one unit lower)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


@settings(max_examples=10, deadline=None)
@given(
    values=st.lists(st.integers(min_value=0, max_value=5), min_size=3, max_size=12)
)
def test_pettitt_matches_bruteforce(spark, values):
    """U_t from doubled midranks == the literal double sum, for every
    prefix, on tie-heavy series."""
    from pythonvectordb_spark.operators.timeseries import pettitt_changepoint

    n = len(values)
    us = []
    for t in range(1, n):
        u = sum(
            (values[i] > values[j]) - (values[i] < values[j])
            for i in range(t)
            for j in range(t, n)
        )
        us.append(u)
    k = max(abs(u) for u in us)
    t_star = min(i for i, u in enumerate(us) if abs(u) == k)  # earliest day
    p = min(1.0, 2.0 * math.exp(-6.0 * k * k / (n**3 + n**2)))

    (r,) = pettitt_changepoint(_mk_events(spark, values)).collect()
    assert r.n_days == n
    assert r.k_stat == k
    assert r.u_at_change == us[t_star]
    assert abs(r.p_approx - round(p, 6)) < 1e-9


@settings(max_examples=8, deadline=None)
@given(
    ga=st.lists(st.integers(min_value=0, max_value=6), min_size=2, max_size=10),
    gb=st.lists(st.integers(min_value=0, max_value=6), min_size=2, max_size=10),
)
def test_ks_d_matches_bruteforce(spark, ga, gb):
    """The integer-lattice max|cume_a*n_b - cume_b*n_a| equals the
    classic sup-distance between the two ECDFs."""
    from pythonvectordb_spark.operators.stats import ks_bh_fdr_matrix

    rows = [(i, "a", v) for i, v in enumerate(ga)] + [
        (100 + i, "b", v) for i, v in enumerate(gb)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    (r,) = ks_bh_fdr_matrix(df).collect()

    grid = sorted(set(ga) | set(gb))
    na, nb = len(ga), len(gb)
    d = max(
        abs(sum(1 for x in ga if x <= v) / na - sum(1 for x in gb if x <= v) / nb)
        for v in grid
    )
    assert abs(r.d_stat - round(d, 6)) < 1e-9
    ne_d2 = (na * nb / (na + nb)) * d * d
    p = min(1.0, 2.0 * math.exp(-2.0 * ne_d2))
    assert abs(r.p_ks - round(p, 6)) < 1e-6


@settings(max_examples=8, deadline=None)
@given(
    subj_a=st.lists(
        st.tuples(st.integers(min_value=1, max_value=8), st.booleans()),
        min_size=2,
        max_size=6,
    ),
    subj_b=st.lists(
        st.tuples(st.integers(min_value=1, max_value=8), st.booleans()),
        min_size=2,
        max_size=6,
    ),
)
@pytest.mark.slow
def test_logrank_matches_per_subject_model(spark, subj_a, subj_b):
    """The cumulative-subtraction at-risk counts reproduce the naive
    per-subject definition (at-risk = time >= t) at every event time,
    censoring included."""
    from pythonvectordb_spark.operators.timeseries import logrank_segments

    # need at least one event somewhere or the operator returns an
    # empty frame (no event times) — force subject 0 of group A to be
    # an event
    subj_a = [(subj_a[0][0], True)] + list(subj_a[1:])

    HORIZON = 50  # anchor day index for dmax
    cust, orders, ok = [], [], 0
    for gi, (seg, subs) in enumerate(
        (("BUILDING", subj_a), ("MACHINERY", subj_b))
    ):
        for si, (t, ev) in enumerate(subs):
            ck = gi * 100 + si
            cust.append((ck, seg))
            if ev:  # event: first order day 1, second day 1 + t
                ok += 1
                orders.append((ok, ck, 1))
                ok += 1
                orders.append((ok, ck, 1 + t))
            else:  # censored at horizon: first order at HORIZON - t
                ok += 1
                orders.append((ok, ck, HORIZON - t))
    # horizon anchor: a customer in NEITHER segment sets max(o_orderdate)
    cust.append((999, "FURNITURE"))
    ok += 1
    orders.append((ok, 999, HORIZON))

    cdf = spark.createDataFrame(cust, "c_custkey long, c_mktsegment string")
    odf = spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, d int"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("d")).alias(
            "o_orderdate"
        ),
    )

    out = logrank_segments(odf, cdf).collect()
    times = sorted({t for t, ev in subj_a if ev} | {t for t, ev in subj_b if ev})
    o_minus_e = var = 0.0
    ev_a = sum(1 for _, e in subj_a if e)
    ev_b = sum(1 for _, e in subj_b if e)
    for t in times:
        da = sum(1 for tt, e in subj_a if e and tt == t)
        db = sum(1 for tt, e in subj_b if e and tt == t)
        ra = sum(1 for tt, _ in subj_a if tt >= t)
        rb = sum(1 for tt, _ in subj_b if tt >= t)
        d, r = da + db, ra + rb
        o_minus_e += da - d * ra / r
        if r > 1:
            var += d * (ra / r) * (rb / r) * (r - d) / (r - 1)

    (row,) = out
    # n is the SUBJECT count per group (ADVICE r7): a subject censored
    # before the earliest event time still belongs to the cohort
    assert row.n_a == len(subj_a) and row.n_b == len(subj_b)
    assert row.events_a == ev_a and row.events_b == ev_b
    assert abs(row.o_minus_e - round(o_minus_e, 6)) < 1e-6
    assert abs(row.var_logrank - round(var, 6)) < 1e-6


@settings(max_examples=8, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=9), min_size=9, max_size=16
    ).filter(lambda v: len(set(v)) > 1)  # non-constant: rho defined
)
@example(values=[0, 0, 2, 3, 4, 6, 4, 4, 7, 8, 9, 9, 9])  # rho2 = 0.4453125, a tie
def test_ljung_box_matches_numpy_model(spark, values):
    """DECIMAL autocovariances == the classic float formula on the
    same series (n-scaled centering cancels exactly)."""
    from pythonvectordb_spark.operators.timeseries import ljung_box_daily

    n = len(values)
    mean = sum(values) / n
    g0 = sum((x - mean) ** 2 for x in values)
    (r,) = ljung_box_daily(_mk_events(spark, values)).collect()
    q = 0.0
    for k in range(1, 8):
        gk = sum(
            (values[t] - mean) * (values[t - k] - mean) for t in range(k, n)
        )
        rho = gk / g0
        q += rho * rho / (n - k)
        assert abs(getattr(r, f"rho{k}") - _round_half_up(rho, 6)) < 1e-6, k
    q *= n * (n + 2)
    assert abs(r.q_lb - _round_half_up(q, 6)) < 1e-4


@settings(max_examples=8, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.sampled_from(["s1", "s2", "s3"]),
                  st.integers(min_value=1, max_value=50)),
        min_size=6,
        max_size=30,
    ).filter(
        lambda d: len({v for _, v in d}) > 1
        and all(sum(1 for g, _ in d if g == s) >= 2 for s in {g for g, _ in d})
    )
)
def test_deff_matches_float_model(spark, data):
    """Exact-integer-moment DEFF == the textbook per-stratum variance
    formula."""
    from pythonvectordb_spark.operators.stats import (
        stratification_design_effect,
    )

    rows = [(i, g, v) for i, (g, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    (r,) = stratification_design_effect(df).collect()

    n = len(data)
    vals = [v for _, v in data]
    mean = sum(vals) / n
    var_tot = sum((x - mean) ** 2 for x in vals) / (n - 1)
    groups = {g for g, _ in data}
    w_num = 0.0
    for g in groups:
        gv = [v for gg, v in data if gg == g]
        m = sum(gv) / len(gv)
        w_num += len(gv) * (sum((x - m) ** 2 for x in gv) / (len(gv) - 1))
    deff = (w_num / n) / var_tot
    assert r.n_rows == n and r.n_strata == len(groups)
    assert abs(r.sd_total - round(math.sqrt(var_tot), 6)) < 1e-6
    assert abs(r.deff - round(deff, 6)) < 1e-6


@settings(max_examples=8, deadline=None)
@given(
    ta=st.lists(st.sampled_from("abcde"), min_size=3, max_size=12),
    tb=st.lists(st.sampled_from("abcde"), min_size=3, max_size=12),
)
def test_vocab_jaccard_matches_python_sets(spark, ta, tb):
    """The shingle equi-join reproduces plain Python set algebra."""
    from pythonvectordb_spark.operators.textops import source_vocab_jaccard

    df = spark.createDataFrame(
        [(1, " ".join(ta), "sa"), (2, " ".join(tb), "sb")],
        "doc_id long, text string, source string",
    )
    (r,) = source_vocab_jaccard(df).collect()

    def sh(toks):
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    A, B = sh(ta), sh(tb)
    inter = len(A & B)
    assert r.vocab_a == len(A) and r.vocab_b == len(B)
    assert r.n_common == inter
    assert abs(r.jaccard - round(inter / len(A | B), 6)) < 1e-9


@settings(max_examples=8, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=9), min_size=8, max_size=21
    )
)
def test_dow_seasonal_matches_float_model(spark, values):
    """The 7x-scaled integer detrending equals the classic
    (x_t - MA7_t) decomposition on full windows."""
    from pythonvectordb_spark.operators.timeseries import (
        dow_seasonal_decomposition,
    )

    n = len(values)
    detr = {}  # dow -> list of classic detrended values
    for t in range(3, n - 3):
        ma = sum(values[t - 3 : t + 4]) / 7.0
        # day index of 2024-01-(t+1) = di0 + t; dow = (di0 + t) % 7;
        # 2024-01-01 is unix day 19723, 19723 % 7 = 4
        detr.setdefault((19723 + t) % 7, []).append(values[t] - ma)
    out = {r.dow: r for r in dow_seasonal_decomposition(_mk_events(spark, values)).collect()}
    assert set(out) == set(detr)
    for dow, xs in detr.items():
        assert out[dow].n_days == len(xs)
        assert abs(out[dow].seasonal - round(sum(xs) / len(xs), 6)) < 1e-6


@settings(max_examples=10, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-4.0, max_value=4.0,
                      allow_nan=False, width=32),
            min_size=4, max_size=4,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=1,
        max_size=6,
    )
)
def test_quantization_saturation_matches_k3_model(spark, vecs):
    """Saturation counts agree with the K3 numpy model (normalize,
    clamp, truncate toward zero) applied per component."""
    import math as m

    from pythonvectordb_spark.operators.stats import quantization_saturation

    def k3(v):
        nrm = m.sqrt(sum(x * x for x in v))
        out = []
        for x in v:
            val = max(-128.0, min(127.0, (x / nrm) * 127.0))
            out.append(int(val))
        return out

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out = {r.dim: r for r in quantization_saturation(df).collect()}
    qs = [k3([float(__import__("numpy").float32(x)) for x in v]) for v in vecs]
    for d in range(4):
        col = [q[d] for q in qs]
        assert out[d].n == len(col)
        assert out[d].n_sat == sum(1 for q in col if abs(q) == 127)
        assert out[d].n_high == sum(1 for q in col if abs(q) >= 64)
        assert out[d].min_q == min(col) and out[d].max_q == max(col)


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.tuples(
            st.sampled_from(["alpha beta gamma", "alpha beta", "delta epsilon zeta eta"]),
            st.integers(min_value=1, max_value=3),
        ),
        min_size=10,
        max_size=24,
    )
)
@pytest.mark.slow
def test_champion_gate_matches_python_model(spark, texts):
    """The exact columns of gate_champion_challenger (label census, NB
    accuracy, McNemar counts, champion verdict) must agree with a
    literal Python reimplementation of the add-one-smoothed NB, the md5
    split, and the above-mean-length label on arbitrary tiny corpora
    (round 8; the rule arm is forced to all-keep by construction so the
    model stays closed-form)."""
    import hashlib
    import math as m

    from pythonvectordb_spark.operators.curation import gate_champion_challenger

    # every doc: >= 10 diverse tokens incl. stopwords -> rule keeps all
    pad = " the a of and to w1 w2 w3 w4 w5"
    rows = [(i, (t * r).strip() + pad) for i, (t, r) in enumerate(texts)]
    docs = [(i, txt, len(txt)) for i, txt in rows]
    df = spark.createDataFrame(docs, "doc_id long, text string, n_chars int")
    (r,) = gate_champion_challenger(df).collect()

    n, tot = len(docs), sum(c for _, _, c in docs)
    pos = {i: c * n > tot for i, _, c in docs}
    is_test = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[-1], 16) % 5 == 0
        for i, _, _ in docs
    }
    toks = {i: [w for w in t.split(" ") if w] for i, t, _ in docs}
    test_ids = [i for i in is_test if is_test[i] and toks[i]]
    if not test_ids or all(pos.values()) or not any(pos.values()):
        return  # degenerate: no test rows or single-class NB train
    tr_ids = [i for i in is_test if not is_test[i]]
    if not tr_ids or len({pos[i] for i in tr_ids}) < 2:
        return

    # python NB (add-one smoothing over the train vocabulary)
    classes = {"long": [i for i in tr_ids if pos[i]],
               "short": [i for i in tr_ids if not pos[i]]}
    vocab = {w for i in tr_ids for w in toks[i]}
    V = len(vocab)
    cond = {}
    for cls, ids in classes.items():
        cnt = {}
        for i in ids:
            for w in toks[i]:
                cnt[w] = cnt.get(w, 0) + 1
        cond[cls] = (cnt, sum(cnt.values()) + V)
    N = len(tr_ids)
    nb_pred = {}
    for i in test_ids:
        scores = {}
        for cls, ids in classes.items():
            cnt, denom = cond[cls]
            s = m.log(len(ids) / N) + sum(
                m.log((cnt.get(w, 0) + 1) / denom) for w in toks[i]
            )
            scores[cls] = round(s, 6)
        # argmax, class-name tie-break ('long' < 'short')
        nb_pred[i] = max(scores, key=lambda c: (scores[c], c == "long")) == "long"

    cr = sum(1 for i in test_ids if pos[i])          # rule keeps all
    cn = sum(1 for i in test_ids if nb_pred[i] == pos[i])
    n10 = sum(1 for i in test_ids if pos[i] and nb_pred[i] != pos[i])
    n01 = sum(1 for i in test_ids if (not pos[i]) and nb_pred[i] == pos[i])
    assert r.n_test == len(test_ids)
    assert r.n_pos_test == sum(1 for i in test_ids if pos[i])
    assert abs(r.acc_rule - round(cr / len(test_ids), 6)) < 1e-9
    assert abs(r.acc_nb - round(cn / len(test_ids), 6)) < 1e-9
    assert r.mcnemar_rule_nb_n10 == n10
    assert r.mcnemar_rule_nb_n01 == n01
    assert r.exact_champion == ("nb" if cn >= cr else "rule")
