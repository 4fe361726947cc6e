"""Brute-force cross-checks for round-12 operators, part 2
(robuststats, bizaudit, textcal). Methodology as test_round12_ops.py.
"""

from __future__ import annotations

import hashlib
import itertools
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest

from tests.test_round12_ops import _pd, _run


# ---------------------------------------------------------------------------
# robuststats
# ---------------------------------------------------------------------------
def test_q244_histogram_merge_third_impl(spark):
    cust = _pd("customer")
    nation = _pd("nation")
    region_of = dict(zip(nation.n_nationkey, nation.n_regionkey))
    bal = cust.c_acctbal.values
    mn, mx = bal.min(), bal.max()
    w = (mx - mn) / 32.0
    regions = cust.c_nationkey.map(region_of).values
    rows = {r.region: r for r in _run(spark, "q244_histogram_merge_rollup")}
    for reg in set(regions):
        v = np.sort(bal[regions == reg])
        bins = np.minimum(np.floor((v - mn) / w), 31).astype(int) if w else 0 * v
        hist = Counter(bins.tolist())
        n = len(v)
        cum = 0
        for b in sorted(hist):
            prev = cum
            cum += hist[b]
            if cum >= 0.5 * n and prev < 0.5 * n:
                est = mn + w * (b + (0.5 * n - prev) / hist[b])
                break
        exact = np.percentile(v, 50)
        r = rows[reg]
        assert r.n == n
        assert r.est_p50 == pytest.approx(est, rel=1e-12)
        assert r.exact_p50 == pytest.approx(exact, rel=1e-12)
        assert r.abs_err == pytest.approx(abs(est - exact), rel=1e-9, abs=1e-12)


def test_q252_theil_sen_third_impl(spark):
    orders = _pd("orders")
    m = orders.o_orderdate.dt.year * 12 + orders.o_orderdate.dt.month - 1
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    monthly = (
        pd.DataFrame({"pri": orders.o_orderpriority, "m": m, "c": cents})
        .groupby(["pri", "m"])
        .c.sum()
    )
    rows = {r.o_orderpriority: r for r in _run(spark, "q252_theil_sen_trend")}
    for pri in monthly.index.get_level_values(0).unique():
        s = monthly[pri]
        slopes = [
            (s[t2] - s[t1]) / 100.0 / (t2 - t1)
            for t1, t2 in itertools.combinations(sorted(s.index), 2)
        ]
        r = rows[pri]
        assert r.n_pairs == len(slopes)
        assert r.sen_slope == pytest.approx(np.percentile(slopes, 50), rel=1e-12)


def _q9(x: float) -> Decimal:
    """round(double, 9) the way both engines do it (half away from zero;
    inputs here are positive, so HALF_UP matches)."""
    return Decimal(x).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)


def test_q255_markov_third_impl(spark):
    ev = _pd("events").sort_values(["user_id", "ts", "event_id"])
    trans = Counter()
    for _, g in ev.groupby("user_id"):
        types = list(g.event_type)
        for a, b in zip(types, types[1:]):
            trans[(a, b)] += 1
    totals = Counter()
    for (a, _b), c in trans.items():
        totals[a] += c
    P = {(a, b): _q9(c / totals[a]) for (a, b), c in trans.items()}
    states = sorted(totals)
    s = {st: _q9(1.0 / len(states)) for st in states}
    for _ in range(20):
        nxt = defaultdict(Decimal)
        for (a, b), p in P.items():
            if a in s:
                nxt[b] += (s[a] * p).quantize(
                    Decimal("1e-9"), rounding=ROUND_HALF_UP
                )
        s = dict(nxt)
    rows = _run(spark, "q255_markov_stationary")
    got = {r.state: r.stationary_prob for r in rows}
    assert set(got) == set(s)
    for st in s:
        assert got[st] == float(s[st])


def _avg_ranks(values):
    """value -> exact 2*average-rank (int)."""
    sv = sorted(values)
    first = {}
    cnt = Counter(values)
    r = 1
    for v in sv:
        if v not in first:
            first[v] = r
        r += 1
    return {v: 2 * first[v] + cnt[v] - 1 for v in cnt}


def test_q262_rank_sum_third_impl(spark):
    ev = _pd("events")
    a = ev[ev.event_type == "purchase"].value.dropna().tolist()
    b = ev[ev.event_type == "click"].value.dropna().tolist()
    r2 = _avg_ranks(a + b)
    s2a = sum(r2[v] for v in a)
    na, nb = len(a), len(b)
    u = s2a / 2 - na * (na + 1) / 2
    z = (u - na * nb / 2) / math.sqrt(na * nb * (na + nb + 1) / 12.0)
    row = _run(spark, "q262_rank_sum_test")[0]
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.u_stat == pytest.approx(u, rel=1e-12)
    assert row.z == pytest.approx(z, abs=2e-6)


def test_q271_spearman_third_impl(spark):
    li = _pd("lineitem")
    rows = {r.l_returnflag: r for r in _run(spark, "q271_spearman_rank_corr")}
    for flag, g in li.groupby("l_returnflag"):
        rx_map = _avg_ranks(g.l_quantity.tolist())
        ry_map = _avg_ranks(g.l_extendedprice.tolist())
        rx = np.array([rx_map[v] for v in g.l_quantity], dtype=float)
        ry = np.array([ry_map[v] for v in g.l_extendedprice], dtype=float)
        rho = np.corrcoef(rx, ry)[0, 1]
        r = rows[flag]
        assert r.n == len(g)
        assert r.spearman_rho == pytest.approx(rho, abs=2e-6)


# ---------------------------------------------------------------------------
# bizaudit
# ---------------------------------------------------------------------------
def test_q254_fd_audit_third_impl(spark):
    from kinesis_sample_spark.queries.bizaudit import _FDS

    rows = {r.fd: r for r in _run(spark, "q254_fd_audit")}
    assert set(rows) == {f[0] for f in _FDS}
    for label, table, lhs, rhs in _FDS:
        t = _pd(table)
        nd = t.groupby(lhs)[rhs].nunique()
        r = rows[label]
        assert r.n_groups == len(nd)
        assert r.violating_groups == int((nd > 1).sum())
        assert r.violation_rate == pytest.approx(
            (nd > 1).sum() / len(nd), rel=1e-12
        )
        assert r.max_rhs_distinct == int(nd.max())


def test_q265_shift_share_third_impl(spark):
    orders = _pd("orders")
    cust = _pd("customer")
    nat = dict(zip(cust.c_custkey, cust.c_nationkey))
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    df = pd.DataFrame(
        {
            "nation": orders.o_custkey.map(nat),
            "y": orders.o_orderdate.dt.year,
            "c": cents,
        }
    )
    g = df.groupby(["nation", "y"]).agg(vol=("c", "size"), cents=("c", "sum"))
    rows = _run(spark, "q265_shift_share")
    assert len(rows) > 0
    for r in rows:
        cur = g.loc[(r.nation, r.year)]
        prev = g.loc[(r.nation, r.year - 1)]
        ap_c = (cur.cents / 100.0) / cur.vol
        ap_p = (prev.cents / 100.0) / prev.vol
        assert r.volume_effect == pytest.approx(
            (cur.vol - prev.vol) * ap_p, abs=2e-6
        )
        assert r.price_effect == pytest.approx((ap_c - ap_p) * cur.vol, abs=2e-6)
        assert r.total_change == pytest.approx(
            (cur.cents - prev.cents) / 100.0, rel=1e-12
        )


def test_q266_double_billing_third_impl(spark):
    orders = _pd("orders")
    agg = defaultdict(lambda: [0, set(), 0, Decimal(0)])
    by_cust = dict(tuple(orders.groupby("o_custkey")))
    for ck, g in by_cust.items():
        recs = list(
            g[["o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"]]
            .itertuples(index=False)
        )
        for a, b in itertools.combinations(recs, 2):
            if a[0] > b[0]:
                a, b = b, a
            if abs((a[1].normalize() - b[1].normalize()).days) <= 3:
                st = agg[a[2]]
                st[0] += 1
                st[1].add(ck)
                st[2] += int(a[2] == b[2])
                ratio = min(a[3], b[3]) / max(a[3], b[3])
                st[3] += Decimal(ratio).quantize(
                    Decimal("1e-6"), rounding=ROUND_HALF_UP
                )
    rows = _run(spark, "q266_double_billing_audit")
    assert {r.o_orderpriority for r in rows} == set(agg)
    for r in rows:
        n, custs, same, rsum = agg[r.o_orderpriority]
        assert (r.n_pairs, r.n_customers, r.n_same_priority) == (n, len(custs), same)
        assert r.avg_amount_ratio == pytest.approx(float(rsum) / n, rel=1e-12)


def _ntile(sorted_keys, k):
    n = len(sorted_keys)
    out = {}
    base, rem = divmod(n, k)
    i = 0
    for b in range(1, k + 1):
        size = base + (1 if b <= rem else 0)
        for key in sorted_keys[i : i + size]:
            out[key] = b
        i += size
    return out


def test_q267_band_migration_third_impl(spark):
    orders = _pd("orders")
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    df = pd.DataFrame(
        {"cust": orders.o_custkey, "y": orders.o_orderdate.dt.year, "c": cents}
    )
    yearly = df.groupby(["cust", "y"]).c.sum()
    band = {}
    for y in yearly.index.get_level_values(1).unique():
        s = yearly.xs(y, level=1)
        order = sorted(s.index, key=lambda ck: (s[ck], ck))
        band.update({(ck, y): b for ck, b in _ntile(order, 10).items()})
    moves = Counter()
    for (ck, y), b in band.items():
        if (ck, y + 1) in band:
            moves[(b, band[(ck, y + 1)])] += 1
    from_tot = Counter()
    for (bf, _bt), n in moves.items():
        from_tot[bf] += n
    rows = _run(spark, "q267_value_band_migration")
    got = {(r.band_from, r.band_to): (r.n, r.share_of_from) for r in rows}
    assert set(got) == set(moves)
    for k, (n, share) in got.items():
        assert n == moves[k]
        assert share == pytest.approx(moves[k] / from_tot[k[0]], rel=1e-12)


def test_q268_key_density_third_impl(spark):
    orders = _pd("orders")
    df = pd.DataFrame({"b": orders.o_orderkey // 1000, "k": orders.o_orderkey})
    g = df.groupby("b").k.agg(["size", "min", "max"])
    bands = defaultdict(lambda: [0, 0, Decimal(0)])
    for _, row in g.iterrows():
        dens = row["size"] / (row["max"] - row["min"] + 1)
        name = (
            "dense" if dens > 0.75 else "mixed" if dens > 0.5
            else "sparse" if dens > 0.25 else "fragmented"
        )
        st = bands[name]
        st[0] += 1
        st[1] += int(row["size"])
        st[2] += Decimal(dens).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    rows = _run(spark, "q268_key_density_audit")
    assert {r.density_band for r in rows} == set(bands)
    for r in rows:
        nb, tot, dsum = bands[r.density_band]
        assert (r.n_buckets, r.total_rows) == (nb, tot)
        assert r.avg_density == pytest.approx(float(dsum) / nb, rel=1e-12)


def test_q269_mom_contribution_third_impl(spark):
    orders = _pd("orders")
    cust = _pd("customer")
    seg = dict(zip(cust.c_custkey, cust.c_mktsegment))
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    m = orders.o_orderdate.dt.year * 12 + orders.o_orderdate.dt.month - 1
    df = pd.DataFrame({"seg": orders.o_custkey.map(seg), "m": m, "c": cents})
    grid = df.groupby(["seg", "m"]).c.sum()
    months = sorted(grid.index.get_level_values(1).unique())
    valid = {mm for mm in months if mm - 1 in months}
    deltas = {}
    for mm in valid:
        for s in grid.index.get_level_values(0).unique():
            rc = grid.get((s, mm), 0)
            rp = grid.get((s, mm - 1), 0)
            if rc != 0 or rp != 0:
                deltas[(mm, s)] = rc - rp
    tot = Counter()
    for (mm, _s), d in deltas.items():
        tot[mm] += d
    rows = _run(spark, "q269_mom_contribution")
    got = {
        ((r.month // 100) * 12 + r.month % 100 - 1, r.segment): r for r in rows
    }
    assert set(got) == set(deltas)
    for k, r in got.items():
        assert r.seg_delta == pytest.approx(deltas[k] / 100.0, rel=1e-12)
        if tot[k[0]] == 0:
            assert r.contribution is None
        else:
            assert r.contribution == pytest.approx(
                deltas[k] / tot[k[0]], rel=1e-12
            )


def test_q270_largest_remainder_third_impl(spark):
    li = _pd("lineitem")
    orders = _pd("orders")
    pri = dict(zip(orders.o_orderkey, orders.o_orderpriority))
    stats = defaultdict(lambda: [0, 0, 0, 0])  # orders, points, balanced, max
    for ok, g in li.groupby("l_orderkey"):
        cents = [
            (int(round(p * 100)), int(ln))
            for p, ln in zip(g.l_extendedprice, g.l_linenumber)
        ]
        total = sum(c for c, _ in cents)
        base = [(100 * c) // total for c, _ in cents]
        rems = [(100 * c) % total for c, _ in cents]
        leftover = 100 - sum(base)
        order = sorted(
            range(len(cents)), key=lambda i: (-rems[i], cents[i][1])
        )
        alloc = list(base)
        for i in order[:leftover]:
            alloc[i] += 1
        st = stats[pri[ok]]
        st[0] += 1
        st[1] += sum(alloc)
        st[2] += int(sum(alloc) == 100)
        st[3] = max(st[3], max(alloc))
    rows = _run(spark, "q270_largest_remainder_alloc")
    got = {
        r.o_orderpriority: (
            r.n_orders, r.total_points, r.orders_balanced, r.max_single_alloc
        )
        for r in rows
    }
    assert got == {k: tuple(v) for k, v in stats.items()}
    # the invariant the operator exists for:
    for n_orders, total_points, balanced, _mx in got.values():
        assert total_points == 100 * n_orders and balanced == n_orders


# ---------------------------------------------------------------------------
# textcal
# ---------------------------------------------------------------------------
def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(text: str):
    toks = text.split(" ")
    return [
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    ] if len(toks) >= 3 else []


def _brute_minhash(docs):
    """doc_id -> (signature tuple, distinct shingle set)."""
    out = {}
    for doc_id, text in docs:
        shl = _shingles(text)
        if not shl:
            continue
        sig = tuple(
            min(_md5_60(f"{s}:{x}") for x in shl) for s in range(8)
        )
        out[doc_id] = (sig, set(shl))
    return out


def _brute_lsh_candidates(mh):
    buckets = defaultdict(list)
    for doc_id, (sig, _) in mh.items():
        buckets[(0, "_".join(map(str, sig[:4])))].append(doc_id)
        buckets[(1, "_".join(map(str, sig[4:])))].append(doc_id)
    cand = set()
    for ids in buckets.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            cand.add((a, b))
    return cand


def test_q249_minhash_calibration_third_impl(spark):
    docs = list(zip(_pd("documents").doc_id, _pd("documents").text))
    mh = _brute_minhash(docs)
    cand = _brute_lsh_candidates(mh)
    assert cand, "fixture should produce LSH candidates"
    per = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    for a, b in cand:
        (sa, seta), (sb, setb) = mh[a], mh[b]
        est8 = sum(x == y for x, y in zip(sa, sb))
        inter = len(seta & setb)
        jac = inter / (len(seta) + len(setb) - inter)
        st = per[est8]
        st[0] += 1
        st[1] += Decimal(jac).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        st[2] += Decimal(abs(est8 / 8 - jac)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    rows = _run(spark, "q249_minhash_calibration")
    got = {r.est8: r for r in rows}
    assert set(got) == set(per)
    for est8, (n, jsum, esum) in per.items():
        r = got[est8]
        assert r.n_pairs == n
        assert r.avg_jaccard == pytest.approx(float(jsum) / n, rel=1e-12)
        assert r.avg_abs_err == pytest.approx(float(esum) / n, rel=1e-12)


def test_q259_agreement_third_impl(spark):
    docs = list(zip(_pd("documents").doc_id, _pd("documents").text))
    mh = _brute_minhash(docs)
    lsh = _brute_lsh_candidates(mh)
    blocks = defaultdict(list)
    for doc_id, text in docs:
        blocks[text[:12]].append(doc_id)
    prefix = set()
    for ids in blocks.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            prefix.add((a, b))
    row = _run(spark, "q259_dedup_agreement")[0]
    assert row.n_lsh == len(lsh)
    assert row.n_prefix == len(prefix)
    assert row.n_both == len(lsh & prefix)
    assert row.n_lsh_only == len(lsh - prefix)
    assert row.n_prefix_only == len(prefix - lsh)


def test_q245_lcp_third_impl(spark):
    docs = list(zip(_pd("documents").doc_id, _pd("documents").text))
    blocks = defaultdict(list)
    for doc_id, text in sorted(docs):
        if len(blocks[text[:12]]) < 64:
            blocks[text[:12]].append((doc_id, text))
    pairs_per = Counter()
    docs_per = defaultdict(set)
    for members in blocks.values():
        for (da, ta), (db, tb) in itertools.combinations(members, 2):
            bucket = 12
            for p in (16, 32, 64, 128, 256):
                if ta[:p] == tb[:p]:
                    bucket = p
                else:
                    break
            # largest passing probe wins (probes nest, so scan up)
            bucket = max(
                [12] + [p for p in (16, 32, 64, 128, 256) if ta[:p] == tb[:p]]
            )
            pairs_per[bucket] += 1
            docs_per[bucket].update((da, db))
    rows = _run(spark, "q245_prefix_lcp_neardup")
    got = {r.lcp_bucket: (r.n_pairs, r.n_docs) for r in rows}
    expected = {b: (n, len(docs_per[b])) for b, n in pairs_per.items()}
    assert got == expected and got


def test_q248_zipf_third_impl(spark):
    docs = _pd("documents")
    freq = Counter()
    for text in docs.text:
        freq.update(text.split(" "))
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]

    def q6(x):
        return Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)

    lr = [q6(math.log10(i + 1)) for i in range(len(ranked))]
    lf = [q6(math.log10(c)) for _, c in ranked]
    n = len(ranked)
    sx, sy = sum(lr), sum(lf)
    sxy = sum(a * b for a, b in zip(lr, lf))
    sxx = sum(a * a for a in lr)
    slope = (n * float(sxy) - float(sx) * float(sy)) / (
        n * float(sxx) - float(sx) * float(sx)
    )
    row = _run(spark, "q248_zipf_slope")[0]
    assert row.n_ranks == n
    assert row.zipf_slope == pytest.approx(slope, abs=2e-6)
    # sanity: a rank-frequency law should slope downward
    assert row.zipf_slope < 0


def test_q257_cosine_distribution_third_impl(spark):
    emb = _pd("embeddings").sort_values("vec_id")
    vecs = {int(i): list(map(float, v)) for i, v in zip(emb.vec_id, emb.embedding)}

    def cos(a, b):
        # sequential fold, matching the engines' exact evaluation order
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    per = defaultdict(lambda: [0, Decimal(0)])
    for stride in (1, 101):
        for i, a in vecs.items():
            b = vecs.get(i + stride)
            if b is None:
                continue
            c = cos(a, b)
            bin_ = min(int(math.floor((c + 1) * 10)), 19)
            st = per[(stride, bin_)]
            st[0] += 1
            st[1] += Decimal(c).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    rows = _run(spark, "q257_cosine_pair_distribution")
    got = {(r.stride, r.bin): r for r in rows}
    assert set(got) == set(per)
    for k, (n, csum) in per.items():
        assert got[k].n_pairs == n
        assert got[k].avg_cos == pytest.approx(float(csum) / n, rel=1e-12)


def test_q263_burstiness_third_impl(spark):
    docs = _pd("documents")
    tc = Counter()
    for doc_id, text in zip(docs.doc_id, docs.text):
        for tok, c in Counter(text.split(" ")).items():
            tc[(tok, doc_id)] = c
    per_tok = defaultdict(lambda: [0, 0, 0])
    for (tok, _d), c in tc.items():
        st = per_tok[tok]
        st[0] += 1
        st[1] += c
        st[2] += c * c
    eligible = sorted(
        ((tok, st) for tok, st in per_tok.items() if st[0] >= 5),
        key=lambda kv: (-kv[1][0], kv[0]),
    )[:50]
    rows = _run(spark, "q263_term_burstiness")
    assert [r.tok for r in rows] == [tok for tok, _ in eligible]
    for r, (tok, (df, n, scc)) in zip(rows, eligible):
        var = (df * scc - n * n) / (df * (df - 1))
        vmr = var / (n / df)
        assert (r.df, r.n_total) == (df, n)
        assert r.vmr == pytest.approx(vmr, abs=2e-6)


def test_q264_shingle_duplication_third_impl(spark):
    docs = _pd("documents")
    slots = set()
    for doc_id, source, text in zip(docs.doc_id, docs.source, docs.text):
        for s in set(_shingles(text)):
            slots.add((doc_id, source, s))
    dfreq = Counter()
    for doc_id, _src, s in slots:
        dfreq[s] += 0  # init
    sh_docs = defaultdict(set)
    for doc_id, _src, s in slots:
        sh_docs[s].add(doc_id)
    per_src = defaultdict(lambda: [set(), 0, 0])
    for doc_id, src, s in slots:
        st = per_src[src]
        st[0].add(doc_id)
        st[1] += 1
        st[2] += int(len(sh_docs[s]) > 1)
    rows = _run(spark, "q264_shingle_duplication_rate")
    assert {r.source for r in rows} == set(per_src)
    for r in rows:
        d, tot, dup = per_src[r.source]
        assert (r.n_docs, r.n_shingle_slots, r.n_duplicated) == (len(d), tot, dup)
        assert r.dup_rate == pytest.approx(dup / tot, rel=1e-12)


# ---------------------------------------------------------------------------
# opstats (batch 2: q273-q282)
# ---------------------------------------------------------------------------
def _daily_cents(orders):
    epoch = pd.Timestamp("1970-01-01")
    d = (orders.o_orderdate.dt.normalize() - epoch).dt.days
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    return pd.DataFrame({"d": d, "c": cents}).groupby("d").c.sum().sort_index()


def test_q273_runs_test_third_impl(spark):
    daily = _daily_cents(_pd("orders"))
    vals = (daily / 100.0).values
    med = np.percentile(vals, 50)
    s = [1 if v > med else 0 for v in vals]
    n1, n2 = sum(s), len(s) - sum(s)
    r = 1 + sum(1 for a, b in zip(s, s[1:]) if a != b)
    n = n1 + n2
    mu = 2.0 * n1 * n2 / n + 1
    sig = math.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / (n * n * (n - 1))
    )
    row = _run(spark, "q273_runs_test")[0]
    assert (row.n_above, row.n_below, row.n_runs) == (n1, n2, r)
    assert row.z == pytest.approx((r - mu) / sig, abs=2e-6)


def test_q274_kendall_tau_third_impl(spark):
    orders = _pd("orders")
    m = orders.o_orderdate.dt.year * 12 + orders.o_orderdate.dt.month - 1
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    monthly = (
        pd.DataFrame({"pri": orders.o_orderpriority, "m": m, "c": cents})
        .groupby(["pri", "m"]).c.sum()
    )
    rows = {r.o_orderpriority: r for r in _run(spark, "q274_kendall_tau")}
    for pri in monthly.index.get_level_values(0).unique():
        s = monthly[pri].sort_index()
        conc = disc = tot = 0
        for t1, t2 in itertools.combinations(s.index, 2):
            tot += 1
            conc += int(s[t2] > s[t1])
            disc += int(s[t2] < s[t1])
        r = rows[pri]
        assert (r.n_pairs, r.concordant, r.discordant) == (tot, conc, disc)
        assert r.tau_a == pytest.approx((conc - disc) / tot, rel=1e-12)


def test_q275_abc_xyz_third_impl(spark):
    li = _pd("lineitem")
    cents = (li.l_extendedprice.round(2) * 100).round().astype("int64")
    rev = pd.DataFrame({"p": li.l_partkey, "c": cents}).groupby("p").c.sum()
    order = sorted(rev.index, key=lambda p: (-rev[p], p))
    tot = rev.sum()
    abc = {}
    cum = 0
    for p in order:
        cum += rev[p]
        abc[p] = "A" if 5 * cum <= 4 * tot else ("B" if 20 * cum <= 19 * tot else "C")
    qc = (li.l_quantity.round(2) * 100).round().astype("int64")
    mm = li.l_shipdate.dt.year * 12 + li.l_shipdate.dt.month - 1
    monthly = (
        pd.DataFrame({"p": li.l_partkey, "m": mm, "q": qc})
        .groupby(["p", "m"]).q.sum()
    )
    xyz = {}
    for p in rev.index:
        s = monthly[p].values / 100.0
        nm = len(s)
        if nm < 2:
            xyz[p] = "Z"
            continue
        mean = s.sum() / nm
        sd = math.sqrt((nm * (s * s).sum() - s.sum() ** 2) / (nm * (nm - 1)))
        cv = round(sd / mean, 6)
        xyz[p] = "X" if cv < 0.5 else ("Y" if cv < 1.0 else "Z")
    cells = defaultdict(lambda: [0, 0])
    for p in rev.index:
        st = cells[(abc[p], xyz[p])]
        st[0] += 1
        st[1] += rev[p]
    rows = _run(spark, "q275_abc_xyz")
    got = {(r.class_abc, r.class_xyz): (r.n_parts, r.revenue) for r in rows}
    assert set(got) == set(cells)
    for k, (n, revc) in cells.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(revc / 100.0, rel=1e-12)


def test_q276_bowley_moors_third_impl(spark):
    orders = _pd("orders")
    cust = _pd("customer")
    seg = dict(zip(cust.c_custkey, cust.c_mktsegment))
    df = pd.DataFrame(
        {"seg": orders.o_custkey.map(seg), "x": orders.o_totalprice}
    )
    rows = {r.c_mktsegment: r for r in _run(spark, "q276_bowley_moors")}
    for s, g in df.groupby("seg"):
        x = g.x.values
        q1, q2, q3 = (np.percentile(x, p) for p in (25, 50, 75))
        e1, e3, e5, e7 = (np.percentile(x, p) for p in (12.5, 37.5, 62.5, 87.5))
        r = rows[s]
        assert r.n == len(x)
        assert r.bowley_skew == pytest.approx(
            (q3 + q1 - 2 * q2) / (q3 - q1), abs=2e-6
        )
        assert r.moors_kurtosis == pytest.approx(
            ((e7 - e5) + (e3 - e1)) / (q3 - q1), abs=2e-6
        )


def test_q277_two_proportion_third_impl(spark):
    ev = _pd("events")
    epoch = pd.Timestamp("1970-01-01")
    wd = ((ev.ts.dt.normalize() - epoch).dt.days % 7).isin([2, 3])
    conv = ev.event_type == "purchase"
    x1, n1 = int((wd & conv).sum()), int(wd.sum())
    x2, n2 = int((~wd & conv).sum()), int((~wd).sum())
    p = (x1 + x2) / (n1 + n2)
    diff = x1 / n1 - x2 / n2
    z = diff / math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
    row = _run(spark, "q277_two_proportion_ztest")[0]
    assert (row.weekend_purchases, row.weekend_events) == (x1, n1)
    assert (row.weekday_purchases, row.weekday_events) == (x2, n2)
    assert row.rate_diff == pytest.approx(diff, rel=1e-12)
    assert row.z == pytest.approx(z, abs=2e-6)


def test_q278_intermittency_third_impl(spark):
    li = _pd("lineitem")
    qc = (li.l_quantity.round(2) * 100).round().astype("int64")
    mm = li.l_shipdate.dt.year * 12 + li.l_shipdate.dt.month - 1
    monthly = (
        pd.DataFrame({"p": li.l_partkey, "m": mm, "q": qc})
        .groupby(["p", "m"]).q.sum()
    )
    n_periods = monthly.index.get_level_values(1).nunique()
    per_class = defaultdict(lambda: [0, Decimal(0)])
    for p in monthly.index.get_level_values(0).unique():
        s = monthly[p].values / 100.0
        nm = len(s)
        adi = Decimal(n_periods / nm).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
        if nm < 2:
            cls = "lumpy"
        else:
            mean = s.sum() / nm
            var = (nm * (s * s).sum() - s.sum() ** 2) / (nm * (nm - 1))
            cv2 = round(var / (mean * mean), 6)
            if adi < Decimal("1.32") and cv2 < 0.49:
                cls = "smooth"
            elif adi >= Decimal("1.32") and cv2 < 0.49:
                cls = "intermittent"
            elif adi < Decimal("1.32"):
                cls = "erratic"
            else:
                cls = "lumpy"
        st = per_class[cls]
        st[0] += 1
        st[1] += adi
    rows = _run(spark, "q278_demand_intermittency")
    got = {r.demand_class: r for r in rows}
    assert set(got) == set(per_class)
    for cls, (n, asum) in per_class.items():
        assert got[cls].n_parts == n
        assert got[cls].avg_adi == pytest.approx(float(asum) / n, rel=1e-12)


def test_q279_embedding_norms_third_impl(spark):
    emb = _pd("embeddings")
    per = defaultdict(list)
    for lab, v in zip(emb.label, emb.embedding):
        acc = 0.0
        for x in map(float, v):
            acc += x * x
        per[int(lab)].append(math.sqrt(acc))
    rows = {r.label: r for r in _run(spark, "q279_embedding_norm_profile")}
    assert set(rows) == set(per)
    for lab, norms in per.items():
        r = rows[lab]
        qsum = sum(
            Decimal(v).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
            for v in norms
        )
        assert r.n_vecs == len(norms)
        assert r.mean_norm == pytest.approx(float(qsum) / len(norms), rel=1e-12)
        assert r.p50_norm == pytest.approx(np.percentile(norms, 50), rel=1e-12)
        assert (r.min_norm, r.max_norm) == (
            pytest.approx(min(norms), rel=1e-12),
            pytest.approx(max(norms), rel=1e-12),
        )


def test_q280_jsd_third_impl(spark):
    docs = _pd("documents")
    sl = Counter(zip(docs.source, docs.lang))
    src_tot = Counter(docs.source)
    glob = Counter(docs.lang)
    ng = sum(glob.values())

    def q6(x):
        return Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)

    rows = {r.source: r for r in _run(spark, "q280_source_lang_jsd")}
    assert set(rows) == set(src_tot)
    for src in src_tot:
        sp = sq = sm = Decimal(0)
        n_langs = 0
        for lang, g in glob.items():
            c = sl.get((src, lang), 0)
            p = c / src_tot[src]
            q = g / ng
            mid = (p + q) / 2
            if c > 0:
                sp += q6(p * math.log(p))
                n_langs += 1
            sq += q6(q * math.log(q))
            sm += q6(mid * math.log(mid))
        jsd = float(sp) / 2 + float(sq) / 2 - float(sm)
        r = rows[src]
        assert (r.n_docs, r.n_langs) == (src_tot[src], n_langs)
        assert r.jsd_nats == pytest.approx(jsd, rel=1e-9, abs=1e-12)
        assert r.jsd_nats >= -1e-6  # JSD is non-negative (quantization slack)


def test_q281_basket_fanout_third_impl(spark):
    li = _pd("lineitem")
    sizes = Counter()
    for o, g in {(o, p) for o, p in zip(li.l_orderkey, li.l_partkey)}:
        sizes[o] += 1
    dist = Counter(sizes.values())
    total_pairs = {k: n * (k * (k - 1) // 2) for k, n in dist.items()}
    all_pairs = sum(total_pairs.values())
    rows = _run(spark, "q281_basket_fanout_audit")
    got = {r.basket_size: r for r in rows}
    assert set(got) == set(dist)
    for k in dist:
        r = got[k]
        assert (r.n_orders, r.total_pairs) == (dist[k], total_pairs[k])
        assert r.pair_share == pytest.approx(
            total_pairs[k] / all_pairs, rel=1e-12
        )


def test_q282_control_chart_third_impl(spark):
    orders = _pd("orders")
    m = orders.o_orderdate.dt.year * 12 + orders.o_orderdate.dt.month - 1
    cents = (orders.o_totalprice.round(2) * 100).round().astype("int64")
    monthly = (
        pd.DataFrame({"m": m, "c": cents}).groupby("m").c.sum().sort_index()
    )
    base = monthly.iloc[:24].values / 100.0
    nb = len(base)
    mu = base.sum() / nb
    sd = math.sqrt((nb * (base * base).sum() - base.sum() ** 2) / (nb * (nb - 1)))
    rows = _run(spark, "q282_control_chart")
    assert len(rows) == len(monthly) - 24
    for r, (mm, c) in zip(rows, monthly.iloc[24:].items()):
        assert r.month == (mm // 12) * 100 + mm % 12 + 1
        x = c / 100.0
        assert r.rev == pytest.approx(x, rel=1e-12)
        z = (x - mu) / sd
        assert r.zscore == pytest.approx(z, abs=2e-6)
        assert r.out_of_control == int(abs(z) > 3)


# ---------------------------------------------------------------------------
# inference (batch 3: q283-q289)
# ---------------------------------------------------------------------------
def test_q283_hill_third_impl(spark):
    x = sorted(_pd("orders").o_totalprice.values, reverse=True)
    k = 200
    xk1 = x[k]

    def q6(v):
        return Decimal(v).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)

    st = sum(q6(math.log(v / xk1)) for v in x[:k])
    row = _run(spark, "q283_hill_tail_index")[0]
    assert row.k == k
    assert row.threshold == pytest.approx(xk1, rel=1e-12)
    assert row.hill_gamma == pytest.approx(float(st) / k, rel=1e-12)
    assert row.tail_alpha == pytest.approx(k / float(st), abs=2e-6)


def test_q284_seasonal_strength_third_impl(spark):
    daily = _daily_cents(_pd("orders"))
    epoch = pd.Timestamp("1970-01-01")
    moy = np.array(
        [(epoch + pd.Timedelta(days=int(d))).month for d in daily.index]
    )
    x = daily.values / 100.0
    n = len(x)
    groups = [x[moy == m] for m in sorted(set(moy))]
    kk = len(groups)
    ssb_terms = sum(
        Decimal(g.sum() * g.sum() / len(g)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
        for g in groups
    )
    s, sqq = x.sum(), (x * x).sum()
    between = float(ssb_terms) - s * s / n
    total = sqq - s * s / n
    f = (between / (kk - 1)) / ((sqq - float(ssb_terms)) / (n - kk))
    row = _run(spark, "q284_seasonal_strength")[0]
    assert (row.n_days, row.n_months) == (n, kk)
    assert row.eta_sq == pytest.approx(between / total, abs=2e-5)
    assert row.f_stat == pytest.approx(f, abs=2e-3)


def test_q285_median_ci_third_impl(spark):
    orders = _pd("orders")
    cust = _pd("customer")
    seg = dict(zip(cust.c_custkey, cust.c_mktsegment))
    df = pd.DataFrame(
        {
            "seg": orders.o_custkey.map(seg),
            "x": orders.o_totalprice,
            "k": orders.o_orderkey,
        }
    )
    rows = {r.c_mktsegment: r for r in _run(spark, "q285_median_order_ci")}
    for s, g in df.groupby("seg"):
        n = len(g)
        lo_rank = max(1, math.floor((n - 1.96 * math.sqrt(n)) / 2))
        xs = [x for x, _ in sorted(zip(g.x, g.k))]
        r = rows[s]
        assert (r.n, r.l_rank, r.u_rank) == (n, lo_rank, n + 1 - lo_rank)
        assert r.median == pytest.approx(np.percentile(g.x, 50), rel=1e-12)
        assert r.ci_lo == pytest.approx(xs[lo_rank - 1], rel=1e-12)
        assert r.ci_hi == pytest.approx(xs[n - lo_rank], rel=1e-12)
        assert r.ci_lo <= r.median <= r.ci_hi


def test_q286_quantile_drift_third_impl(spark):
    orders = _pd("orders")
    df = pd.DataFrame(
        {"y": orders.o_orderdate.dt.year, "x": orders.o_totalprice}
    )
    qs = {
        y: (
            len(g),
            np.percentile(g.x, 10),
            np.percentile(g.x, 50),
            np.percentile(g.x, 90),
        )
        for y, g in df.groupby("y")
    }
    rows = _run(spark, "q286_quantile_drift_bands")
    assert {r.year for r in rows} == {y for y in qs if y - 1 in qs}
    for r in rows:
        n, p10, p50, p90 = qs[r.year]
        _, q10, q50, q90 = qs[r.year - 1]
        assert r.n == n
        assert r.p10 == pytest.approx(p10, rel=1e-12)
        assert r.d10 == pytest.approx(p10 - q10, rel=1e-9, abs=1e-9)
        assert r.d50 == pytest.approx(p50 - q50, rel=1e-9, abs=1e-9)
        assert r.d90 == pytest.approx(p90 - q90, rel=1e-9, abs=1e-9)


def test_q287_rbo_third_impl(spark):
    orders = _pd("orders")
    li = _pd("lineitem")
    y_of = dict(zip(orders.o_orderkey, orders.o_orderdate.dt.year))
    cents = (li.l_extendedprice.round(2) * 100).round().astype("int64")
    df = pd.DataFrame(
        {"y": li.l_orderkey.map(y_of), "p": li.l_partkey, "c": cents}
    )
    rev = df.groupby(["y", "p"]).c.sum()
    ymax = df.y.max()

    def topk(y):
        s = rev[y]
        order = sorted(s.index, key=lambda p: (-s[p], p))[:20]
        return {p: i + 1 for i, p in enumerate(order)}

    a, b = topk(ymax), topk(ymax - 1)
    first_depth = {
        p: max(a[p], b[p]) for p in set(a) & set(b)
    }
    total = Decimal(0)
    from kinesis_sample_spark.queries.inference import _RBO_WEIGHTS

    overlap20 = 0
    for d, w in _RBO_WEIGHTS:
        x = sum(1 for fd in first_depth.values() if fd <= d)
        if d == 20:
            overlap20 = x
        total += Decimal(x / d * float(w)).quantize(
            Decimal("1e-9"), rounding=ROUND_HALF_UP
        )
    row = _run(spark, "q287_rank_stability_rbo")[0]
    assert (row.year_cur, row.year_prev, row.depth) == (ymax, ymax - 1, 20)
    assert row.overlap_at_depth == overlap20
    assert row.rbo == pytest.approx(0.1 * float(total), rel=1e-12)
    assert 0.0 <= row.rbo <= 1.0


def test_q288_cluster_census_third_impl(spark):
    from tests.test_round12_ops2 import _brute_minhash, _brute_lsh_candidates

    docs = list(zip(_pd("documents").doc_id, _pd("documents").text))
    mh = _brute_minhash(docs)
    edges = []
    for a, b in _brute_lsh_candidates(mh):
        (sa, seta), (sb, setb) = mh[a], mh[b]
        inter = len(seta & setb)
        if inter / (len(seta) + len(setb) - inter) >= 0.8:
            edges.append((a, b))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = Counter(find(n) for n in parent)
    census = Counter(comps.values())
    rows = _run(spark, "q288_dedup_cluster_census")
    got = {r.cluster_size: (r.n_clusters, r.n_docs, r.n_removable) for r in rows}
    expected = {
        size: (n, size * n, (size - 1) * n) for size, n in census.items()
    }
    assert got == expected and got  # the fixtures plant near-dup pairs


def test_q289_dispersion_third_impl(spark):
    daily = (
        _pd("orders")
        .assign(d=lambda f: f.o_orderdate.dt.normalize())
        .groupby("d")
        .size()
    )
    c = daily.values.astype(float)
    n = len(c)
    mean = c.sum() / n
    var = (n * (c * c).sum() - c.sum() ** 2) / (n * (n - 1))
    vmr = var / mean
    z = (vmr - 1) * math.sqrt((n - 1) / 2)
    row = _run(spark, "q289_index_of_dispersion")[0]
    assert (row.n_days, row.n_orders) == (n, int(c.sum()))
    assert row.mean_per_day == pytest.approx(mean, rel=1e-12)
    assert row.vmr == pytest.approx(vmr, abs=2e-6)
    assert row.z == pytest.approx(z, abs=2e-6)
