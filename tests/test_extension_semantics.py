"""Semantic properties of the round-5 extension operators — checks the
oracle compare can't express: brute-force equivalence on the small
fixture, coverage/overlap invariants, and recall floors.
"""

from __future__ import annotations

from collections import defaultdict

import __spark_entry__ as se
from tests.conftest import SF_DIR

TOL_US = 3_600_000_000  # join_asof_tolerance window


def _rows(spark, name):
    return se.queries()[name](spark, SF_DIR).collect()


def test_chunks_cover_every_token_with_fixed_overlap(spark):
    # Every token of every document lands in >= 1 chunk; consecutive
    # chunks overlap by exactly W - S = 16 tokens (except the tail).
    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    per_doc = defaultdict(list)
    for r in _rows(spark, "doc_chunk_overlap"):
        per_doc[r.doc_id].append((r.chunk_idx, r.n_tokens))
    assert set(per_doc) == set(docs)
    for doc_id, chunks in per_doc.items():
        chunks.sort()
        n = docs[doc_id]
        # contiguous chunk indices from 0
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        # coverage: last chunk starts at 48*idx and reaches the last token
        last_idx, last_n = chunks[-1]
        assert 48 * last_idx + last_n == n
        # every non-tail chunk is the full 64 tokens -> 16-token overlap
        for idx, ntok in chunks[:-1]:
            assert ntok == min(64, n - 48 * idx)


def test_concurrency_sweep_matches_bruteforce(spark):
    # The sweep-line peak must equal the naive O(n^2) definition: the max
    # over open-boundaries t of |{e : e.ts <= t < e.ts + 5min}| (ties:
    # opens counted before closes, i.e. closed-open interval [ts, ts+5m)
    # with inclusive touch at equal instants).
    ev = [
        (r.event_type, r.ts)
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    ]
    by_type = defaultdict(list)
    for et, ts in ev:
        by_type[et].append(ts.timestamp())
    expect = {}
    for et, starts in by_type.items():
        peak = 0
        for t in starts:
            live = sum(1 for s in starts if s <= t <= s + 300)
            peak = max(peak, live)
        expect[et] = peak
    got = {r.event_type: r.peak_concurrent for r in _rows(spark, "events_concurrency_sweep")}
    assert got == expect


def test_asof_tolerance_matches_bruteforce(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    purchases = defaultdict(list)
    for r in ev:
        if r.event_type == "purchase":
            purchases[r.user_id].append(int(r.ts.timestamp() * 1_000_000))
    expect = {}
    for r in ev:
        if r.event_type != "click":
            continue
        t = int(r.ts.timestamp() * 1_000_000)
        cands = [p for p in purchases.get(r.user_id, []) if t <= p <= t + TOL_US]
        expect[r.event_id] = min(cands) if cands else None
    got = {r.event_id: r.next_purchase_us for r in _rows(spark, "join_asof_tolerance")}
    assert got == expect


def test_fuzzy_levenshtein_finds_exact_dup_pairs(spark):
    # Recall floor: every same-language exact-duplicate pair must surface
    # with edit distance 0 (identical text => identical blocking key).
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    groups = defaultdict(list)
    for r in docs:
        groups[(r.lang, r.text)].append(r.doc_id)
    expected_pairs = set()
    for ids in groups.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                expected_pairs.add((a, b))
    got = {(r.doc_a, r.doc_b): r.edit_dist for r in _rows(spark, "dedup_fuzzy_levenshtein")}
    for pair in expected_pairs:
        assert got.get(pair) == 0, f"missing exact-dup pair {pair}"
    # well-formedness: ordered pairs, verified threshold
    for (a, b), d in got.items():
        assert a < b and 0 <= d <= 16


def test_heavy_hitters_shares_are_consistent(spark):
    rows = _rows(spark, "agg_heavy_hitters")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    totals = defaultdict(int)
    for r in ev:
        totals[r.event_type] += 1
    for r in rows:
        assert r.n >= 3
        assert r.share_ppm == r.n * 1_000_000 // totals[r.event_type]
    # shares of the reported subset can never exceed the whole channel
    by_type = defaultdict(int)
    for r in rows:
        by_type[r.event_type] += r.share_ppm
    assert all(v <= 1_000_000 for v in by_type.values())


def test_market_basket_matches_bruteforce(spark):
    import itertools

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    counts = defaultdict(int)
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            counts[(a, b)] += 1
    expect = {p: n for p, n in counts.items() if n >= 2}
    got = {(r.part_a, r.part_b): r.n_orders for r in _rows(spark, "orders_market_basket")}
    assert got == expect


def test_gaps_islands_matches_bruteforce(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    days = defaultdict(set)
    for r in ev:
        days[r.user_id].add(r.ts.date())
    expect = set()
    for uid, ds in days.items():
        ds = sorted(ds)
        start, streak = ds[0], 1
        for prev, cur in zip(ds, ds[1:]):
            if (cur - prev).days == 1:
                streak += 1
            else:
                if streak >= 3:
                    expect.add((uid, start, streak))
                start, streak = cur, 1
        if streak >= 3:
            expect.add((uid, start, streak))
    got = {(r.user_id, r.streak_start, r.streak_days) for r in _rows(spark, "window_gaps_islands")}
    assert got == expect


def test_pagerank_matches_integer_recurrence(spark):
    # Re-run the exact integer recurrence in plain Python and require
    # bit-identical ranks — proves the distributed join/agg lowering
    # computes the stated fixpoint step, not an approximation of it.
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    cust = {r.o_orderkey: r.o_custkey for r in o}
    edges = {(f"c:{cust[r.l_orderkey]}", f"s:{r.l_suppkey}") for r in li}
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    ppb, tele = 1_000_000_000, 150_000_000
    r = {v: ppb // n for v in nodes}
    for _ in range(2):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        r = {v: tele // n + 85 * contrib.get(v, 0) // 100 for v in nodes}
    expect = {v: x for v, x in r.items() if x > ppb // 1000}
    got = {row.node: row.rank_ppb for row in _rows(spark, "graph_pagerank_2iter")}
    assert got == expect
    # at fixture shape, exactly the supplier sinks accumulate rank
    assert all(v.startswith("s:") for v in got)


def test_bigram_familiarity_matches_bruteforce(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    grams = {}
    corpus = defaultdict(int)
    for r in docs:
        t = r.text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(t, t[1:])]
        grams[r.doc_id] = bgs
        for bg in bgs:
            corpus[bg] += 1
    got = {r.doc_id: (r.n_bigrams, r.freq_mass, r.familiarity)
           for r in _rows(spark, "text_bigram_familiarity")}
    expect = {}
    for doc_id, bgs in grams.items():
        if not bgs:
            continue
        mass = sum(corpus[bg] for bg in bgs)
        expect[doc_id] = (len(bgs), mass, mass // len(bgs))
    assert got == expect


def test_running_distinct_matches_bruteforce(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    expect = {}
    for uid, rows in by_user.items():
        seen = set()
        for ts, eid, et in sorted(rows):
            seen.add(et)
            expect[eid] = len(seen)
    got = {r.event_id: r.distinct_types_so_far for r in _rows(spark, "window_running_distinct")}
    assert got == expect


def test_corr_regression_matches_closed_form(spark):
    from decimal import Decimal
    from math import sqrt

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    groups = defaultdict(list)
    for r in li:
        groups[r.l_returnflag].append((r.l_quantity, r.l_extendedprice))
    q = lambda v: Decimal(str(round(v, 6)))  # noqa: E731
    for row in _rows(spark, "agg_corr_regression"):
        pts = groups[row.l_returnflag]
        n = len(pts)
        sx = sum(q(x) for x, _ in pts)
        sy = sum(q(y) for _, y in pts)
        sxx = sum(q(x) * q(x) for x, _ in pts)
        sxy = sum(q(x) * q(y) for x, y in pts)
        syy = sum(q(y) * q(y) for _, y in pts)
        cov_n = n * float(sxy) - float(sx) * float(sy)
        var_x = n * float(sxx) - float(sx) ** 2
        var_y = n * float(syy) - float(sy) ** 2
        assert row.n == n
        assert abs(row.corr_qty_price - cov_n / sqrt(var_x * var_y)) < 1e-8
        assert abs(row.slope - cov_n / var_x) < 1e-8


def test_transition_matrix_matches_bruteforce(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    pairs = defaultdict(int)
    outflow = defaultdict(int)
    for rows in by_user.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            pairs[(a, b)] += 1
            outflow[a] += 1
    got = {(r.from_type, r.to_type): (r.n_transitions, r.prob_ppm)
           for r in _rows(spark, "events_transition_matrix")}
    expect = {p: (n, n * 1_000_000 // outflow[p[0]]) for p, n in pairs.items()}
    assert got == expect


def test_cumulative_uniques_matches_bruteforce(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    first = {}
    for r in ev:
        d = r.ts.date()
        if r.user_id not in first or d < first[r.user_id]:
            first[r.user_id] = d
    daily = defaultdict(int)
    for d in first.values():
        daily[d] += 1
    cum, expect = 0, {}
    for d in sorted(daily):
        cum += daily[d]
        expect[d] = (daily[d], cum)
    got = {r.day: (r.new_users, r.cumulative_users)
           for r in _rows(spark, "events_cumulative_uniques")}
    assert got == expect
    assert max(v[1] for v in got.values()) == len(first)


def test_rfm_segments_partition_customers(spark):
    rows = _rows(spark, "orders_rfm_segmentation")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    n_cust = len({r.o_custkey for r in o})
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        rs, fs, ms = r.segment // 100, r.segment // 10 % 10, r.segment % 10
        assert 1 <= rs <= 4 and 1 <= fs <= 4 and 1 <= ms <= 4


def test_manifest_snapshot_time_travel_and_orphan_isolation(spark):
    # v1 sees only clicks; v2 sees clicks+purchases; the orphan parquet
    # (never referenced by a manifest) is invisible to both snapshots.
    import json
    import os

    from quty_server_spark.session import session_tmp_dir

    se.queries()["sink_manifest_snapshot"](spark, SF_DIR).collect()
    base = session_tmp_dir(spark, "quty_formats_manifest_tbl", SF_DIR)
    assert os.path.isdir(os.path.join(base, "commit_orphan"))
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_click = ev.filter("event_type = 'click'").count()
    n_purchase = ev.filter("event_type = 'purchase'").count()
    for version, expect in [(1, n_click), (2, n_click + n_purchase)]:
        with open(os.path.join(base, f"manifest_v{version}.json")) as fh:
            files = json.load(fh)["files"]
        snap = spark.read.parquet(*files)
        assert snap.count() == expect
        assert set(
            r.event_type for r in snap.select("event_type").distinct().collect()
        ) == ({"click"} if version == 1 else {"click", "purchase"})


def test_ab_test_lift_matches_bruteforce(spark):
    import hashlib
    from math import sqrt

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    conv = defaultdict(int)
    for r in ev:
        if r.event_type == "purchase" and r.value > 150:
            conv[r.user_id] = 1
        else:
            conv.setdefault(r.user_id, 0)
    arms = {0: [0, 0], 1: [0, 0]}  # variant -> [n_users, n_converted]
    for uid, c in conv.items():
        h = int(hashlib.md5(f"ab1|{uid}".encode()).hexdigest()[:7], 16) % 2
        arms[h][0] += 1
        arms[h][1] += c
    (na, ca), (nb, cb) = arms[0], arms[1]
    row = _rows(spark, "events_ab_test_lift")[0]
    assert (row.users_a, row.conv_a) == (na, ca)
    assert (row.users_b, row.conv_b) == (nb, cb)
    assert row.ppm_a == ca * 1_000_000 // na
    assert row.lift_ppm == cb * 1_000_000 // nb - ca * 1_000_000 // na
    pool = (ca + cb) / (na + nb)
    if 0 < pool < 1:
        z = (cb / nb - ca / na) / sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
        assert abs(row.z_stat - z) < 1e-5
    else:
        assert row.z_stat is None


def test_cohort_ltv_is_monotone_and_complete(spark):
    rows = _rows(spark, "orders_cohort_ltv")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    assert sum(r.n_orders for r in rows) == len(o)
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort_m].append((r.age_m, r.cum_revenue))
    for ages in by_cohort.values():
        ages.sort()
        assert all(a[0] >= 0 for a in ages)
        # cumulative revenue never decreases with age
        assert all(x[1] <= y[1] + 1e-6 for x, y in zip(ages, ages[1:]))


def test_abc_pareto_classes_partition_revenue(spark):
    from decimal import Decimal

    rows = {r.abc_class: (r.n_parts, r.class_revenue)
            for r in _rows(spark, "lineitem_abc_pareto")}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").collect()
    per_part = defaultdict(Decimal)
    for r in li:
        per_part[r.l_partkey] += Decimal(str(round(r.l_extendedprice, 6)))
    total = sum(per_part.values())
    ranked = sorted(per_part.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = defaultdict(lambda: [0, Decimal(0)])
    cum = Decimal(0)
    for pk, rev in ranked:
        cum += rev
        cls = "A" if cum * 100 <= total * 80 else ("B" if cum * 100 <= total * 95 else "C")
        expect[cls][0] += 1
        expect[cls][1] += rev
    assert set(rows) == set(expect)
    for cls, (n, rev) in expect.items():
        got_n, got_rev = rows.get(cls, (0, 0.0))
        assert got_n == n, cls
        assert abs(got_rev - float(rev)) < 1e-6, cls
    # ABC shape (when all classes exist): revenue concentrates at the top
    if {"A", "B", "C"} <= set(rows):
        assert rows["A"][1] >= rows["B"][1] >= rows["C"][1]


def test_running_z_uses_only_prior_events(spark):
    # No-lookahead property: recompute sequentially per user and match.
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.value))
    expect = {}
    for uid, rows in by_user.items():
        rows.sort()
        n = s = sq = 0
        n_scored = n_anom = 0
        for _, _, raw in rows:
            v = int(raw * 1000 // 1)  # floor to integer milli-units
            if n >= 5:
                var = sq / n - (s / n) ** 2
                if var > 1e-12:
                    z = abs(v - s / n) / var ** 0.5
                    n_scored += 1
                    if z > 3:
                        n_anom += 1
            n += 1
            s += v
            sq += v * v
        if n_scored:
            expect[uid] = (n_scored, n_anom)
    got = {r.user_id: (r.n_scored, r.n_anomalies)
           for r in _rows(spark, "events_anomaly_running_z")}
    assert got == expect


def test_bpe_pair_counts_brute_force_equivalence(spark):
    # Independent python recount: word-frequency-weighted adjacent char
    # pairs over the lowercased alpha tokenization.
    import re
    from collections import Counter

    words = Counter()
    for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect():
        for w in re.split(r"[^a-z]+", r.text.lower()):
            if w:
                words[w] += 1
    pairs = Counter()
    for w, cnt in words.items():
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += cnt
    want = sorted(
        ((c, l, r) for (l, r), c in pairs.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:50]
    got = [
        (r.pair_count, r.l, r.r) for r in _rows(spark, "text_bpe_pair_counts")
    ]
    assert got == want


def test_profile_column_stats_shape_and_known_values(spark):
    rows = {r.column_name: r for r in _rows(spark, "profile_column_stats")}
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    assert set(rows) == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    }
    ok = rows["o_orderkey"]
    keys = [r.o_orderkey for r in orders]
    assert ok.n_nulls == sum(k is None for k in keys)
    assert ok.n_distinct == len({k for k in keys if k is not None})
    assert ok.min_value == str(min(keys))
    assert ok.max_value == str(max(keys))
    st = rows["o_orderstatus"]
    statuses = [r.o_orderstatus for r in orders if r.o_orderstatus is not None]
    assert st.n_distinct == len(set(statuses))
    assert st.min_value == min(statuses)
    # totalprice is pinned through DECIMAL(18,2): two fraction digits.
    assert rows["o_totalprice"].max_value.split(".")[1].__len__() == 2


def test_bot_regularity_metronomic_user_is_flagged(spark, ducks):
    # A perfect scheduler (identical gaps) drives the double-arithmetic
    # variance a hair NEGATIVE via cancellation; the clamp must yield
    # cv = 0.0 / is_regular = true in BOTH engines instead of Spark NaN
    # + a DuckDB sqrt error. Reproduces the review's confirmed failure
    # (81 gaps of 86,400,000,000 us -> variance -1048576.0 unclamped).
    import datetime

    import duckdb

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=i), 7, "click", 1.0, "{}")
        for i in range(82)
    ]
    sdf = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="quty_bot_fixture_")
    sdf.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    import __spark_entry__ as se

    got = {
        r.user_id: r
        for r in se.queries()["events_bot_regularity"](spark, d).collect()
    }
    assert got[7].gap_cv == 0.0 and got[7].is_regular

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    orows = con.execute(se.oracle_sql()["events_bot_regularity"]).fetchall()
    assert orows == [(7, 81, 0.0, True)]


# ---------------------------------------------------------------------------
# Round-7 pipeline QA battery — invariants the oracle compare can't express
# ---------------------------------------------------------------------------


def test_recall_eval_bounds_and_exact_arm(spark):
    # recall is a proper fraction of the exact top-3; a query whose
    # bucket is empty must still appear (hits = 0), and hits can never
    # exceed n_exact.
    rows = _rows(spark, "sim_ann_recall_eval")
    n_queries = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter("vec_id % 20 = 0")
        .count()
    )
    assert len(rows) == n_queries
    for r in rows:
        assert 0 <= r.hits <= r.n_exact <= 3
        assert r.recall_ppm == r.hits * 1_000_000 // r.n_exact


def test_ivf_cell_balance_accounts_for_whole_corpus(spark):
    rows = _rows(spark, "sim_ivf_cell_balance")
    n_corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r.n_vecs for r in rows) == n_corpus
    # shares are floor-ppm: sum within one cell-count of 1e6
    assert 1_000_000 - len(rows) <= sum(r.share_ppm for r in rows) <= 1_000_000


def test_minhash_error_eval_estimator_range(spark):
    rows = _rows(spark, "dedup_minhash_error_eval")
    assert rows, "LSH proposes candidates on the fixture"
    for r in rows:
        assert 0 <= r.n_match <= 16
        assert r.est_ppm == r.n_match * 1_000_000 // 16
        assert 0.0 < r.jaccard <= 1.0
        # a banded candidate shares at least one full band => >= 2 perms
        assert r.n_match >= 2


def test_cluster_stats_conserve_documents(spark):
    rows = _rows(spark, "dedup_cluster_stats")
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_removable == (r.cluster_size - 1) * r.n_clusters
    # keep-one-per-cluster survivor count == keep flags of keep_canonical
    keepers = sum(1 for k in _rows(spark, "dedup_keep_canonical") if k.keep)
    assert sum(r.n_clusters for r in rows) == keepers


def test_mix_rebalance_weights_flatten_not_upsample(spark):
    rows = _rows(spark, "doc_mix_rebalance")
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    target = n_docs // len(rows)
    for r in rows:
        assert 0 < r.weight_ppm <= 1_000_000
        # over-represented cells get downweighted toward the target
        if r.n_docs > target:
            assert r.weight_ppm < 1_000_000
            assert r.expected_docs <= r.n_docs
        else:
            assert r.weight_ppm == 1_000_000


def test_pack_efficiency_matches_packer(spark):
    # n_bins must equal the actual bin count doc_pack_sequences emits,
    # and fill can never exceed capacity.
    eff = {r.shard: r for r in _rows(spark, "doc_pack_efficiency")}
    bins = defaultdict(set)
    for r in _rows(spark, "doc_pack_sequences"):
        bins[r.shard].add(r.bin)
    for shard, e in eff.items():
        assert e.n_bins == len(bins[shard])
        assert 0 < e.fill_ppm <= 1_000_000
        assert e.tokens_total <= e.n_bins * 2048


def test_seqlen_histogram_buckets_are_pow2_consistent(spark):
    rows = _rows(spark, "doc_seqlen_histogram")
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        lo, hi = 2**r.bucket_pow2, 2 ** (r.bucket_pow2 + 1)
        assert lo <= r.min_tokens <= r.max_tokens < hi


def test_herfindahl_bounds(spark):
    rows = _rows(spark, "orders_supplier_herfindahl")
    for r in rows:
        # floor-ppm shares: HHI in (0, 1e6], and >= the even-split floor
        # minus quantization (each of n shares loses < 1 ppm to floor).
        even_floor = 1_000_000 // r.n_suppliers - r.n_suppliers
        assert even_floor <= r.hhi_ppm <= 1_000_000


def test_watermark_audit_counts_late_events(spark):
    rows = _rows(spark, "events_watermark_lag_audit")
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r.n_events for r in rows) == n_events
    for r in rows:
        assert 0 <= r.n_late < r.n_events
        assert (r.max_disorder_us > 0) == (r.n_late > 0)


def test_modality_mix_partition_is_exhaustive(spark):
    rows = _rows(spark, "mm_modality_mix")
    assert {r.modality for r in rows} == {"image", "audio", "video"}
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r.n_items for r in rows) == n_docs
    for r in rows:
        assert r.avg_bytes * r.n_items <= r.total_bytes <= r.max_bytes * r.n_items


# --- round-14 late additions: leakage / budget / shards / drift -----------


def _md5_28(key: str) -> int:
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:7], 16)


def _split_of(doc_id: int) -> str:
    band = _md5_28(f"split|{doc_id}") % 100
    return "train" if band < 80 else ("val" if band < 90 else "test")


def test_split_leakage_matches_brute_force(spark):
    import re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    keyed = []
    for r in docs:
        keyed.append((r.doc_id, r.text))
        if r.doc_id % 7 == 0:
            keyed.append((r.doc_id + 2000000, r.text.upper().replace(" ", "  ")))
    import hashlib

    by_hash = defaultdict(list)
    for doc_id, text in keyed:
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", text.lower())).strip()
        by_hash[hashlib.md5(norm.encode()).hexdigest()].append(doc_id)
    want = defaultdict(lambda: [set(), set()])  # (a,b) -> [hashes, docs_b]
    for h, ids in by_hash.items():
        splits = {(i, _split_of(i)) for i in ids}
        for ia, sa in splits:
            for ib, sb in splits:
                if sa < sb:
                    want[(sa, sb)][0].add(h)
                    want[(sa, sb)][1].add(ib)
    got = {
        (r.split_a, r.split_b): (r.n_leaked_hashes, r.n_leaked_docs_b)
        for r in _rows(spark, "split_leakage_report")
    }
    assert got == {
        k: (len(v[0]), len(v[1])) for k, v in want.items()
    }
    # non-vacuity: the staged mangled twins must actually leak
    assert sum(n for n, _ in got.values()) > 0


def test_token_budget_is_greedy_prefix(spark):
    from quty_server_spark.operators.sampling import TOKEN_BUDGET

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    per_lang = defaultdict(list)
    for r in docs:
        per_lang[r.lang].append(
            (_md5_28(f"budget|{r.doc_id}"), r.doc_id, len(r.text.split(" ")))
        )
    want = {}
    for lang, rows in per_lang.items():
        total = n = 0
        for _, _, toks in sorted(rows):
            if total >= TOKEN_BUDGET:
                break
            total += toks
            n += 1
        want[lang] = (n, total)
    got = {r.lang: (r.n_docs, r.n_tokens) for r in _rows(spark, "sample_token_budget")}
    assert got == want
    for lang, (_, total) in want.items():
        # greedy fill: budget exceeded by at most one document
        assert total >= TOKEN_BUDGET  # 1,500 binds at every fixture SF


def test_training_shards_partition_the_snapshot(spark):
    snap = _rows(spark, "corpus_training_snapshot")
    want = defaultdict(lambda: [0, 0])
    for r in snap:
        s = _md5_28(f"shard|{r.doc_id}") % 8
        want[s][0] += 1
        want[s][1] += r.n_tokens
    got = {
        r.shard: (r.n_docs, r.total_tokens)
        for r in _rows(spark, "sink_training_shards")
    }
    assert got == {k: tuple(v) for k, v in want.items()}
    assert sum(n for n, _ in got.values()) == len(snap)


def test_centroid_drift_sides_and_bounds(spark):
    rows = _rows(spark, "embed_centroid_drift")
    assert rows, "fixture batch stratum must populate at least one cell"
    balance_cells = {r.cell for r in _rows(spark, "sim_ivf_cell_balance")}
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    for r in rows:
        assert r.cell in balance_cells
        assert r.n_lake > 0 and r.n_shard > 0
        assert r.drift2 >= 0
    # the two sides never double-count a vector
    assert sum(r.n_lake + r.n_shard for r in rows) <= n_vecs


def test_bpe_merge_step_is_true_greedy_bpe(spark):
    import re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    freq = defaultdict(int)
    for r in docs:
        for w in re.split("[^a-z]+", r.text.lower()):
            if w:
                freq[w] += 1
    pc = defaultdict(int)
    for w, c in freq.items():
        for i in range(len(w) - 1):
            pc[(w[i], w[i + 1])] += c
    (l, r), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
    merged_sym = l + r
    pc2 = defaultdict(int)
    for w, c in freq.items():
        # true greedy BPE: leftmost non-overlapping merge of (l, r)
        syms, i = [], 0
        while i < len(w):
            if w[i : i + 2] == merged_sym:
                syms.append(merged_sym)
                i += 2
            else:
                syms.append(w[i])
                i += 1
        for a, b in zip(syms, syms[1:]):
            pc2[(a, b)] += c
    want = sorted(
        ((a, b, c) for (a, b), c in pc2.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:50]
    got = [(x.l, x.r, x.pair_count) for x in _rows(spark, "text_bpe_merge_step")]
    assert got == want
    # non-vacuity: the merged symbol must participate in new pairs
    assert any(merged_sym in (a, b) for a, b, _ in got)


def test_mm_neardup_staged_twins_found_and_exact_pass_blind(spark):
    """Non-vacuity of the perceptual pass: every staged byte-swapped
    twin pairs with its original at Hamming 0 under a shifted modality
    tag (cross_modality), while the payload BYTES differ — so the exact
    digest pass (mm_payload_dedup) cannot see the pair."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.multimodal import (
        _NEARDUP_TWIN_BASE,
        mm_payload_neardup,
        percep_media_universe,
    )

    uni = percep_media_universe(spark, SF_DIR)
    twin_ids = {
        r[0]
        for r in uni.filter(F.col("doc_id") >= _NEARDUP_TWIN_BASE)
        .select("doc_id")
        .collect()
    }
    assert twin_ids, "fixture staged no near-twins"
    pairs = {
        (r["doc_a"], r["doc_b"]): (r["hamming"], r["cross_modality"])
        for r in mm_payload_neardup(spark, SF_DIR).collect()
    }
    for t in twin_ids:
        orig = t - _NEARDUP_TWIN_BASE
        assert (orig, t) in pairs, f"staged twin pair ({orig}, {t}) not mined"
        ham, cross = pairs[(orig, t)]
        assert ham == 0, "byte swap moved the perceptual signature"
        assert cross, "shifted container tag not flagged cross-modality"
    # Byte-inequality: the exact pass is blind to every staged pair.
    md5s = uni.select("doc_id", F.md5("payload").alias("m")).collect()
    by_id = {r["doc_id"]: r["m"] for r in md5s}
    for t in twin_ids:
        assert by_id[t] != by_id[t - _NEARDUP_TWIN_BASE], (
            "staged twin is byte-identical — that's mm_payload_dedup's case"
        )


def test_mm_neardup_candidates_are_capped_and_banded(spark):
    """Plan pin: the saturated-bucket drop (window count over the
    band-join key) sits BEFORE the self-join, and the join is a
    band-equality join — never all-pairs."""
    import re

    from quty_server_spark.operators.multimodal import mm_payload_neardup

    df = mm_payload_neardup(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"\(\d+\) Window\b", plan), "bucket-size cap window missing"
    assert "band_val" in plan and "band_id" in plan


def test_mm_neardup_keep_collapses_what_exact_pass_cannot(spark):
    """The collapse audit's perceptual-only win is non-vacuous: at
    least one cluster holds >1 DISTINCT payload digest (byte-different
    members — invisible to mm_payload_dedup), and every cluster's
    id is its min member with consistent member counts vs the pair
    graph's node set."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.multimodal import (
        mm_payload_neardup,
        mm_payload_neardup_keep,
    )

    keep = mm_payload_neardup_keep(spark, SF_DIR).collect()
    assert any(r["n_byte_variants"] > 1 for r in keep), (
        "no byte-different cluster — the perceptual tier adds nothing "
        "over the exact pass on this fixture"
    )
    pairs = mm_payload_neardup(spark, SF_DIR).collect()
    nodes = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert sum(r["n_members"] for r in keep) == len(nodes)
    for r in keep:
        assert r["n_members"] >= 2
        assert r["cluster_id"] in nodes


def test_bpe_encode_totals_equal_training_curve(spark):
    """The encoder and the trainer must agree on what the trained
    tokenizer does to the corpus: the sum of text_bpe_encode's per-doc
    BPE token counts IS text_bpe_compression's round-N corpus_symbols
    (the curve counts the same multiset through the weighted
    vocabulary; the encoder counts it at doc grain). The r15 verdict
    called this cross-check 'free' — this pin makes it load-bearing."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.textops import (
        BPE_TRAIN_MERGES,
        text_bpe_compression,
        text_bpe_encode,
    )

    enc = text_bpe_encode(spark, SF_DIR)
    total = enc.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    curve = {
        r["merge_round"]: r["corpus_symbols"]
        for r in text_bpe_compression(spark, SF_DIR).collect()
    }
    assert total == curve[BPE_TRAIN_MERGES]
    # And the encoder genuinely compresses: round-N totals sit strictly
    # below the character-level baseline (round 0).
    assert total < curve[0]


def test_bpe_encode_vocab_equals_narrow_map_encoder(spark):
    """The two encode execution shapes — the narrow per-occurrence map
    (text_bpe_encode) and the skew-safe distinct-word encode + count
    join (text_bpe_encode_vocab) — must agree row-for-row: same trained
    state, same exact greedy apply, so per-doc counts are identical by
    construction, and this pin makes a drift between the two shapes a
    loud failure (r16 VERDICT "Next round" #5)."""
    from quty_server_spark.operators.textops import (
        text_bpe_encode,
        text_bpe_encode_vocab,
    )

    narrow = sorted(
        (r["doc_id"], r["n_bpe_tokens"])
        for r in text_bpe_encode(spark, SF_DIR).collect()
    )
    vocab = sorted(
        (r["doc_id"], r["n_bpe_tokens"])
        for r in text_bpe_encode_vocab(spark, SF_DIR).collect()
    )
    assert narrow == vocab


def test_snapshot_mm_staged_cross_modality_keeper(spark):
    """The multimodal snapshot's media columns are non-vacuous at
    fixture scale: at least one admitted keeper heads a perceptual
    cluster spanning >1 modality AND >1 byte variant (the staged
    byte-swapped twin under a shifted modality tag — the case the exact
    digest pass can never collapse), and every admitted row IS its
    media cluster's keeper. At fixture scale no text-admitted doc loses
    its keeper election (twins carry larger ids by construction, and no
    two snapshot docs collide perceptually), so the drop edge is
    verified by the oracle's semantics rather than a fixture row —
    recorded here so a fixture change that starts exercising it is
    noticed."""
    from quty_server_spark.operators.pipeline import (
        corpus_training_snapshot,
        corpus_training_snapshot_mm,
    )

    rows = corpus_training_snapshot_mm(spark, SF_DIR).collect()
    assert rows
    assert all(r["media_cluster_id"] == r["doc_id"] for r in rows)
    staged = [
        r for r in rows if r["n_modalities"] > 1 and r["n_byte_variants"] > 1
    ]
    assert staged, (
        "no admitted keeper heads a cross-modality, byte-variant "
        "perceptual cluster — the staged twin case is vacuous"
    )
    # The mm snapshot is the text snapshot filtered by the media keeper
    # election: subset at doc grain, with text audit columns unchanged.
    base = {
        r["doc_id"]: (r["lang"], r["source"], r["n_tokens"], r["cluster_id"], r["dup_ppm"])
        for r in corpus_training_snapshot(spark, SF_DIR).collect()
    }
    for r in rows:
        assert base[r["doc_id"]] == (
            r["lang"], r["source"], r["n_tokens"], r["cluster_id"], r["dup_ppm"]
        )


def test_bpe_shard_totals_sum_to_encoder_totals(spark):
    """The BPE-denominated shard audit and the encoder count one
    multiset: the per-shard total_bpe_tokens sum equals the encoder's
    totals over exactly the snapshot's admitted docs (and therefore,
    through test_bpe_encode_totals_equal_training_curve, ties the shard
    layout to the training curve's corpus accounting)."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.pipeline import (
        corpus_training_snapshot,
        sink_training_shards_bpe,
    )
    from quty_server_spark.operators.textops import text_bpe_encode

    shards = sink_training_shards_bpe(spark, SF_DIR).collect()
    assert shards
    got = sum(r["total_bpe_tokens"] for r in shards)
    snap_ids = corpus_training_snapshot(spark, SF_DIR).select("doc_id")
    want = (
        text_bpe_encode(spark, SF_DIR)
        .join(snap_ids, "doc_id")
        .agg(F.sum("n_bpe_tokens"))
        .collect()[0][0]
    )
    assert got == want
    # Both denominations ride the same rows: doc counts and id ranges
    # match the whitespace-denominated audit shard-for-shard.
    from quty_server_spark.operators.pipeline import sink_training_shards

    base = {
        r["shard"]: (r["n_docs"], r["min_doc_id"], r["max_doc_id"])
        for r in sink_training_shards(spark, SF_DIR).collect()
    }
    for r in shards:
        assert base[r["shard"]] == (
            r["n_docs"],
            r["min_doc_id"],
            r["max_doc_id"],
        )


def test_bpe_token_budget_binds_and_respects_greedy_fill(spark):
    """The BPE-aware sampler's cutoff is non-vacuous at fixture scale
    (BPE symbol counts at 6 merges sit far above whitespace counts, so
    every stratum overfills: fill_ppm >= 1e6), and the greedy-fill
    contract holds: each admitted stratum exceeds TOKEN_BUDGET by at
    most its final document."""
    from quty_server_spark.operators.sampling import (
        TOKEN_BUDGET,
        sample_token_budget_bpe,
    )
    from quty_server_spark.operators.textops import text_bpe_encode

    rows = {r["lang"]: r for r in sample_token_budget_bpe(spark, SF_DIR).collect()}
    assert rows, "sampler admitted nothing"
    max_doc = max(
        r["n_bpe_tokens"]
        for r in text_bpe_encode(spark, SF_DIR).collect()
    )
    for lang, r in rows.items():
        assert r["fill_ppm"] >= 1_000_000, (
            f"{lang}: budget did not bind (fill_ppm={r['fill_ppm']}) — "
            "the cutoff is untested at this fixture"
        )
        assert r["n_tokens"] < TOKEN_BUDGET + max_doc, (
            f"{lang}: admitted {r['n_tokens']} tokens — overshoot exceeds "
            "one document, greedy fill broken"
        )


def test_bpe_encode_artifact_equals_in_session_encoder(spark):
    """The artifact path cannot drift from the live trainer: encoding
    under the PERSISTED merge table (one nested higher-order expression
    over the broadcast merges array — no in-session training in the
    plan) must reproduce text_bpe_encode's per-doc counts row-for-row.
    With the byte-identical bpe_counts oracle this makes the three
    encoder shapes (narrow map, distinct-word join, artifact fold)
    provably one tokenizer."""
    from quty_server_spark.operators.textops import (
        text_bpe_encode,
        text_bpe_encode_artifact,
    )

    live = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in text_bpe_encode(spark, SF_DIR).collect()
    }
    art = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in text_bpe_encode_artifact(spark, SF_DIR).collect()
    }
    assert art == live


def test_bpe_merges_artifact_prefix_property(spark):
    """The iterative write's point: after k appends the artifact holds
    EXACTLY training rounds 1..k — an interrupted production run's
    artifact is a valid shorter tokenizer, not a torn file. Write a
    3-round artifact into a scratch path and pin it against the first
    3 rows of the trainer's merge table; then pin the full 6-round
    artifact (the registered sink's own rebuild) against all 6."""
    import os

    from quty_server_spark.operators.textops import (
        BPE_TRAIN_MERGES,
        _write_bpe_merges,
        bpe_merges_artifact,
        text_bpe_train_n,
    )
    from quty_server_spark.session import session_tmp_dir

    train = {
        r["merge_round"]: (r["l"], r["r"], r["pair_count"])
        for r in text_bpe_train_n(spark, SF_DIR).collect()
    }
    assert len(train) == BPE_TRAIN_MERGES

    scratch = os.path.join(
        session_tmp_dir(spark, "quty_bpe_merges_prefix_test", SF_DIR)
    )
    _write_bpe_merges(spark, SF_DIR, scratch, n=3)
    prefix = {
        r["merge_round"]: (r["l"], r["r"], r["pair_count"])
        for r in spark.read.parquet(scratch).collect()
    }
    assert prefix == {k: train[k] for k in (1, 2, 3)}

    full = {
        r["merge_round"]: (r["l"], r["r"], r["pair_count"])
        for r in spark.read.parquet(
            bpe_merges_artifact(spark, SF_DIR, rebuild=True)
        ).collect()
    }
    assert full == train
