"""Invariant + reference-equivalence tests for wave 9 (mode/median,
time-range rolling window, fuzzy linkage, blocked kNN graph, PMI
collocations) and the star7 Q22/Q11 families."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from habits_etl_spark.plans.common import t
from habits_etl_spark.plans.ext_curation6 import (
    KNN_K,
    _LEV_MAX,
    _PMI_MIN_COUNT,
    _PMI_TOP_K,
    _ROLL_SECONDS,
    agg_mode_median,
    ext_fuzzy_linkage,
    ext_knn_graph_blocked,
    ext_pmi_collocations,
    win_rolling_time_range,
)
from habits_etl_spark.plans.star7 import (
    agg_q11_value_concentration,
    join_q22_idle_rich,
)


def test_mode_median_against_python(spark, sf_dir):
    """Mode bin and count per group must equal a Counter over the same
    unit-rounded values with the same smallest-bin tiebreak."""
    rows = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.round("value", 0).cast("bigint").alias("vbin"))
        .collect()
    )
    by_type = defaultdict(Counter)
    for r in rows:
        by_type[r.event_type][r.vbin] += 1
    got = {r.event_type: (r.mode_bin, r.mode_count, r.n_events)
           for r in agg_mode_median(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for et, counter in by_type.items():
        best = min(counter.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[et] == (best[0], best[1], sum(counter.values()))


def test_rolling_time_range_against_python(spark, sf_dir):
    """The trailing-1h count at each event equals a brute-force count of
    same-user events within [sec - 3599, sec] — including same-second
    peers that sort AFTER the row (RANGE frames are value-bounded)."""
    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", F.unix_timestamp("ts").alias("sec"))
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r.sec)
    got = {r.event_id: r.n_1h for r in win_rolling_time_range(spark, sf_dir).collect()}
    assert len(got) == len(ev)
    for r in ev[:500]:
        expect = sum(
            1 for s in by_user[r.user_id] if r.sec - (_ROLL_SECONDS - 1) <= s <= r.sec
        )
        assert got[r.event_id] == expect, r.event_id


def test_fuzzy_linkage_pairs_are_blocked_and_bounded(spark, sf_dir):
    rows = ext_fuzzy_linkage(spark, sf_dir).collect()
    assert rows, "expected at least one fuzzy match in the part vocabulary"
    import re

    for r in rows:
        assert r.name_a < r.name_b
        assert 1 <= r.dist <= _LEV_MAX
        # same block = same trailing word
        noun = lambda s: re.search(r"([a-z]+)$", s).group(1)  # noqa: E731
        assert noun(r.name_a) == noun(r.name_b)
        assert r.n_parts_a >= 1 and r.n_parts_b >= 1


def test_knn_graph_is_in_label_and_matches_brute_force(spark, sf_dir):
    emb = {
        r.vec_id: (r.label, [float(x) for x in r.embedding])
        for r in t(spark, sf_dir, "embeddings").collect()
    }
    got = defaultdict(list)
    for r in ext_knn_graph_blocked(spark, sf_dir).orderBy("src_id", "rk").collect():
        assert emb[r.src_id][0] == r.label == emb[r.nbr_id][0]
        got[r.src_id].append((r.rk, r.nbr_id, r.cos))
    assert set(got) == set(emb)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a)) / math.sqrt(sum(x * x for x in b))

    # brute-force re-rank for a sample of sources
    for src in sorted(emb)[:25]:
        lab, v = emb[src]
        cand = sorted(
            (
                (-round(cos(v, vec), 4), nid)
                for nid, (l2, vec) in emb.items()
                if l2 == lab and nid != src
            ),
        )[:KNN_K]
        expect = [nid for _, nid in cand]
        assert [nid for _, nid, _ in sorted(got[src])] == expect, src


def test_pmi_collocations_shape_and_score(spark, sf_dir):
    rows = ext_pmi_collocations(spark, sf_dir).collect()
    assert 0 < len(rows) <= _PMI_TOP_K
    assert all(r.c_ab >= _PMI_MIN_COUNT for r in rows)
    # scores are sorted descending with deterministic tiebreak
    keys = [(-r.pmi, r.w1, r.w2) for r in rows]
    assert keys == sorted(keys)
    # recompute one PMI from raw counts
    texts = [r.text for r in t(spark, sf_dir, "documents").select("text").collect()]
    pairs = Counter()
    for txt in texts:
        ws = txt.split()
        pairs.update(zip(ws, ws[1:]))
    n = sum(pairs.values())
    ca = Counter()
    cb = Counter()
    for (w1, w2), c in pairs.items():
        ca[w1] += c
        cb[w2] += c
    top = rows[0]
    expect = round(
        math.log((pairs[(top.w1, top.w2)] * n) / (ca[top.w1] * cb[top.w2])), 6
    )
    assert abs(top.pmi - expect) < 1e-9


def test_q22_idle_rich_members(spark, sf_dir):
    """Every reported nation count matches a brute-force membership
    recomputation (above-mean balance AND no big-ticket order)."""
    from habits_etl_spark.plans.star7 import _Q22_BIG_TICKET

    cust = t(spark, sf_dir, "customer").collect()
    pos = [c.c_acctbal for c in cust if c.c_acctbal > 0]
    mean = sum(pos) / len(pos)
    big = {
        r.o_custkey
        for r in t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _Q22_BIG_TICKET)
        .select("o_custkey")
        .distinct()
        .collect()
    }
    nation = {r.n_nationkey: r.n_name for r in t(spark, sf_dir, "nation").collect()}
    expect = Counter(
        nation[c.c_nationkey]
        for c in cust
        if c.c_acctbal > mean and c.c_custkey not in big
    )
    got = {r.n_name: r.numcust for r in join_q22_idle_rich(spark, sf_dir).collect()}
    assert got == dict(expect)


def test_q11_share_cut(spark, sf_dir):
    """Kept nations hold > 1/25 of the global positive balance; dropped
    nations hold less — verified against a brute-force share table."""
    cust = t(spark, sf_dir, "customer").collect()
    nation = {r.n_nationkey: r.n_name for r in t(spark, sf_dir, "nation").collect()}
    per = defaultdict(float)
    for c in cust:
        if c.c_acctbal > 0:
            per[nation[c.c_nationkey]] += c.c_acctbal
    total = sum(per.values())
    got = {r.n_name for r in agg_q11_value_concentration(spark, sf_dir).collect()}
    for name, bal in per.items():
        if bal * 25 > total * (1 + 1e-9):
            assert name in got, name
        elif bal * 25 < total * (1 - 1e-9):
            assert name not in got, name
