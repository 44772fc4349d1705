"""Unit tests for graph connected-components and the as-of join operator."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from apitap_spark.operators.graph import connected_components
from apitap_spark.operators.temporal import asof_join


def test_connected_components_basic(spark):
    nodes = spark.range(0).sql_ctx.sparkSession.createDataFrame(
        [(1,), (2,), (3,), (5,), (6,), (9,)], "v long"
    )
    edges = spark.createDataFrame([(2, 1), (2, 3), (5, 6)], "src long, dst long")
    got = {
        r["v"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_chain_converges(spark):
    # worst-case diameter: a 40-node chain must still converge via doubling
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "v long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = connected_components(nodes, edges, max_iter=10).collect()
    assert all(r["component"] == 0 for r in got)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_inclusive_and_left(spark):
    probe = spark.createDataFrame(
        [
            (1, 100, _ts("2024-01-01T10:00:00")),  # before any build -> NULLs
            (2, 100, _ts("2024-01-01T12:00:00")),  # equal ts -> inclusive match
            (3, 100, _ts("2024-01-01T13:00:00")),  # after -> latest prior
            (4, 200, _ts("2024-01-01T13:00:00")),  # other key, no build rows
        ],
        "event_id long, user_id long, ts timestamp",
    )
    build = spark.createDataFrame(
        [
            (100, _ts("2024-01-01T12:00:00"), 5.0),
            (100, _ts("2024-01-01T12:30:00"), 7.0),
        ],
        "user_id long, ts timestamp, val double",
    )
    got = {
        r["event_id"]: (r["match_ts"], r["val"])
        for r in asof_join(probe, build, on="user_id").collect()
    }
    assert got[1] == (None, None)
    assert got[2] == (_ts("2024-01-01T12:00:00"), 5.0)
    assert got[3] == (_ts("2024-01-01T12:30:00"), 7.0)
    assert got[4] == (None, None)


def test_pagerank_invariants(spark, sf_dir):
    """Mass conservation: sum of ranks equals node count; every rank is
    at least the teleport floor; more iterations move ranks less."""
    from pyspark.sql import functions as F

    from apitap_spark.operators.graph import PAGERANK_DAMPING, pagerank
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") <= 30)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = ev.select(
        F.col("event_id").alias("src"), F.lead("event_id").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    nodes = ev.select(F.col("event_id").alias("v"))
    n = nodes.count()

    n_edges = edges.count()
    pr5 = {r["v"]: r["rank"] for r in pagerank(nodes, edges, iters=5).collect()}
    pr6 = {r["v"]: r["rank"] for r in pagerank(nodes, edges, iters=6).collect()}
    total = sum(pr6.values())
    # fixed-point floor division leaks < (E + 2n) micro-units/iteration,
    # and only ever DOWN — assert the conservation band, not equality
    drift_bound = 6 * (n_edges + 2 * n) * 1e-6
    assert n >= total > n - drift_bound
    floor = (1.0 - PAGERANK_DAMPING) - 1e-6
    assert all(v >= floor for v in pr6.values())
    # ranks move less between 5→6 than their absolute spread (stabilizing)
    max_delta = max(abs(pr5[v] - pr6[v]) for v in pr6)
    spread = max(pr6.values()) - min(pr6.values())
    assert max_delta < max(spread, 1e-9)


def test_pagerank_matches_python_fixed_point_reference(spark):
    """Exact integer equality against a pure-Python replay of the
    fixed-point update on a small graph with a dangling node and a
    cycle — triangulates the Spark plan and the DuckDB oracle against
    an independent third implementation."""
    from apitap_spark.operators.graph import (
        PAGERANK_SCALE,
        _damping_fraction,
        pagerank,
    )

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]  # 5 nodes, 5 dangling
    nodes = [1, 2, 3, 4, 5]
    iters = 7
    dnum, dden = _damping_fraction(0.85)
    base_u = (PAGERANK_SCALE * (dden - dnum)) // dden
    total_u = len(nodes) * PAGERANK_SCALE
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: PAGERANK_SCALE for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += rank[s] // deg[s]
        share = (total_u - sum(inflow.values())) // len(nodes)
        rank = {
            v: base_u + (dnum * (inflow[v] + share)) // dden for v in nodes
        }

    ndf = spark.createDataFrame([(v,) for v in nodes], "v long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["v"]: r["rank_micro"]
        for r in pagerank(ndf, edf, iters=iters).collect()
    }
    assert got == rank  # bit-for-bit integer equality


def test_pagerank_dangling_redistribution(spark):
    """A sink node's mass must not vanish: 2-node chain a->b, b dangling."""
    from apitap_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,), (2,)], "v long")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    pr = {r["v"]: r["rank"] for r in pagerank(nodes, edges, iters=20).collect()}
    # 20 iterations x (E + 2n) = 5 micro-units of worst-case floor leak
    assert 2.0 >= sum(pr.values()) > 2.0 - 20 * 5e-6
    assert pr[2] > pr[1]  # the pointed-at node accumulates rank


def test_pagerank_empty_node_set(spark):
    """Zero nodes: an empty ``(v, rank_micro, rank)`` frame, not a
    division by the zero node count."""
    from apitap_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([], "v long")
    edges = spark.createDataFrame([], "src long, dst long")
    pr = pagerank(nodes, edges)
    assert pr.columns == ["v", "rank_micro", "rank"]
    assert pr.collect() == []


def test_pagerank_nodes_without_edges_keep_initial_mass(spark):
    """With no edges every node is dangling: its whole mass returns as
    the uniform share, so every rank stays PAGERANK_SCALE."""
    from apitap_spark.operators.graph import PAGERANK_SCALE, pagerank

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    edges = spark.createDataFrame([], "src long, dst long")
    got = {r["v"]: (r["rank_micro"], r["rank"]) for r in pagerank(nodes, edges).collect()}
    assert got == {v: (PAGERANK_SCALE, 1.0) for v in (1, 2, 3)}


def test_label_propagation_python_replay(spark, sf_dir):
    """Bit-exact community equality against a pure-Python synchronous
    LP replay on the same star graph — triangulates the Spark rounds
    and the recursive-CTE oracle."""
    from apitap_spark.operators.graph import LP_ITERS, op_graph_label_propagation
    from apitap_spark.session import read_table

    got = {r["user_id"]: r["community"]
           for r in op_graph_label_propagation(spark, sf_dir).collect()}

    ev = read_table(spark, sf_dir, "events").collect()
    groups: dict = {}
    users = set()
    for e in ev:
        b = e["ts"].replace(minute=0, second=0, microsecond=0)
        groups.setdefault((b, e["event_type"]), set()).add(e["user_id"])
        users.add(e["user_id"])
    w: dict = {}
    for members in groups.values():
        hub = min(members)
        for u in members:
            if u != hub:
                w[(u, hub)] = w.get((u, hub), 0) + 1
                w[(hub, u)] = w.get((hub, u), 0) + 1
    nbrs: dict = {}
    for (a, b2), wt in w.items():
        nbrs.setdefault(a, {})[b2] = wt
    labels = {u: u for u in users}
    for _ in range(LP_ITERS):
        nxt = {}
        for u in users:
            if u not in nbrs:
                nxt[u] = labels[u]
                continue
            votes: dict = {}
            for v, wt in nbrs[u].items():
                votes[labels[v]] = votes.get(labels[v], 0) + wt
            nxt[u] = min(votes, key=lambda lb: (-votes[lb], lb))
        labels = nxt
    assert got == labels
    # communities genuinely coarsen: fewer communities than users
    assert len(set(got.values())) < len(got)


def test_asof_forward_python_replay(spark, sf_dir):
    """Forward matches equal a per-user Python scan: smallest purchase
    ts >= click ts; non-converting clicks stay NULL; lag >= 0."""
    from apitap_spark.operators.temporal import op_asof_join_forward
    from apitap_spark.session import read_table

    got = {r["event_id"]: r for r in
           op_asof_join_forward(spark, sf_dir).collect()}
    ev = read_table(spark, sf_dir, "events").collect()
    purch: dict = {}
    for e in ev:
        if e["event_type"] == "purchase":
            purch.setdefault(e["user_id"], []).append(e["ts"])
    for v in purch.values():
        v.sort()
    clicks = [e for e in ev if e["event_type"] == "click"]
    assert len(got) == len(clicks)
    import bisect

    for e in clicks:
        r = got[e["event_id"]]
        ps = purch.get(e["user_id"], [])
        i = bisect.bisect_left(ps, e["ts"])
        if i < len(ps):
            assert r["match_ts"] == ps[i]
            # both engines truncate EACH timestamp to whole seconds
            # before differencing (Spark cast-to-long, DuckDB
            # date_diff boundary counting)
            assert r["lag_seconds"] == int(
                (
                    ps[i].replace(microsecond=0)
                    - e["ts"].replace(microsecond=0)
                ).total_seconds()
            )
            assert r["lag_seconds"] >= 0
        else:
            assert r["match_ts"] is None and r["lag_seconds"] is None


def test_interval_overlap_matches_naive_theta_join(spark, sf_dir):
    """The bucketed plan's result equals the naive theta-join computed
    directly in Spark (no bucketing) — the expansion must neither drop
    nor duplicate overlaps."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from apitap_spark.plans.timeseries import (
        INCIDENT_MOD,
        INCIDENT_PAD_SEC,
        q_interval_overlap_incidents,
    )
    from apitap_spark.session import read_table

    got = {r["incident_id"]: (r["n_sessions"], r["n_users"])
           for r in q_interval_overlap_incidents(spark, sf_dir).collect()}

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.select(
        "user_id", "ts", F.when(gap <= 1800, 0).otherwise(1).alias("is_start")
    )
    w2 = (
        Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        flagged.withColumn("sid", F.sum("is_start").over(w2))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    incidents = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % INCIDENT_MOD == 0)
    ).select(
        "event_id",
        (F.col("ts") - F.expr(f"INTERVAL {INCIDENT_PAD_SEC} SECOND")).alias("i_start"),
        (F.col("ts") + F.expr(f"INTERVAL {INCIDENT_PAD_SEC} SECOND")).alias("i_end"),
    )
    naive = (
        incidents.crossJoin(sessions)
        .filter((F.col("s_start") <= F.col("i_end")) & (F.col("i_start") <= F.col("s_end")))
        .groupBy("event_id")
        .agg(F.count("*").alias("ns"), F.countDistinct("user_id").alias("nu"))
        .collect()
    )
    expect = {r["event_id"]: (r["ns"], r["nu"]) for r in naive}
    assert got == expect and got


def test_ewma_python_replay(spark, sf_dir):
    """Triangulate q_ewma_smoothing against an independent pure-Python
    truncated-kernel replay (weights 2^(15-i), floor division)."""
    from apitap_spark.plans.timeseries import EWMA_LAGS, q_ewma_smoothing
    from apitap_spark.session import read_table

    out = {
        (r.event_type, r.hour_epoch): (r.v_cents, r.ewma_cents)
        for r in q_ewma_smoothing(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    series: dict[str, dict[int, int]] = {}
    for r in ev.collect():
        series.setdefault(r.event_type, {}).setdefault(r.h, 0)
        series[r.event_type][r.h] += r.c
    k = EWMA_LAGS
    n_checked = 0
    for et, by_hour in series.items():
        hours = sorted(by_hour)
        for idx, h in enumerate(hours):
            vals = [by_hour[hours[idx - i]] for i in range(min(idx + 1, k))]
            num = sum(v * (1 << (k - 1 - i)) for i, v in enumerate(vals))
            den = sum(1 << (k - 1 - i) for i in range(len(vals)))
            import math

            expect = math.floor(num / den)
            got = out[(et, h)]
            assert got == (by_hour[h], expect), (et, h, got)
            n_checked += 1
    assert n_checked == len(out) and n_checked > 0


def test_twap_python_replay(spark, sf_dir):
    """Triangulate q_time_weighted_avg: independent Python hold-duration
    replay in exact integers, and the weighted/unweighted pair must
    actually differ somewhere (non-vacuous weighting)."""
    import math

    from apitap_spark.plans.timeseries import q_time_weighted_avg
    from apitap_spark.session import read_table

    import decimal

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value", F.unix_micros("ts").alias("us")
    ).collect()
    series = {}
    for r in ev:
        cents = int(
            decimal.Decimal(repr(r.value * 100.0)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        series.setdefault(r.event_type, []).append((r.us, r.event_id, cents))
    got = {r.event_type: r for r in q_time_weighted_avg(spark, sf_dir).collect()}
    assert set(got) == set(series)
    differs = False
    for et, rows in series.items():
        rows.sort()
        wsum = dsum = vsum = 0
        for (us, _, v), (nxt, _, _) in zip(rows, rows[1:]):
            dur = nxt - us
            wsum += v * dur
            dsum += dur
            vsum += v
        n = len(rows) - 1
        g = got[et]
        assert (g.n_intervals, g.total_dur_us) == (n, dsum), et
        assert g.twap_cents_micro == math.floor(1000000.0 * float(wsum) / float(dsum))
        assert g.mean_cents_micro == math.floor(1000000.0 * float(vsum) / float(n))
        differs = differs or g.twap_cents_micro != g.mean_cents_micro
    assert differs


def test_cusum_python_replay(spark, sf_dir):
    """Triangulate q_cusum_changepoint: the recursive CUSUM definition
    S_t = max(0, S_{t-1} + dev_t) replayed in Python must equal the
    windowed closed form, with alarms and quiet rows both present."""
    from apitap_spark.plans.timeseries import CUSUM_K, q_cusum_changepoint
    from apitap_spark.session import read_table

    import decimal

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
        "value",
    ).collect()
    hourly = {}
    for r in ev:
        cents = int(
            decimal.Decimal(repr(r.value * 100.0)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        hourly[(r.event_type, r.h)] = hourly.get((r.event_type, r.h), 0) + cents
    series = {}
    for (et, h), v in hourly.items():
        series.setdefault(et, []).append((h, v))
    got = {
        (r.event_type, r.hour_epoch): r
        for r in q_cusum_changepoint(spark, sf_dir).collect()
    }
    assert set(got) == set(hourly)
    saw_alarm = saw_quiet = False
    for et, pts in series.items():
        pts.sort()
        n, s = len(pts), sum(v for _, v in pts)
        cusum = 0
        for h, v in pts:
            cusum = max(0, cusum + (n * v - s))
            r = got[(et, h)]
            assert (r.v_cents, r.cusum_scaled) == (v, cusum), (et, h)
            assert r.alarm == (cusum > CUSUM_K * s)
            saw_alarm |= r.alarm
            saw_quiet |= not r.alarm
    assert saw_quiet
    if str(sf_dir).rstrip("/").endswith("sf0.01"):
        assert saw_alarm


def test_ab_chi2_python_replay(spark, sf_dir):
    """Triangulate q_ab_test_chi2: exact contingency recount + the same
    fixed-order float chain."""
    import math

    from apitap_spark.plans.relational6 import (
        AB_CHI2_95_MICRO,
        AB_CONVERT_CENTS,
        q_ab_test_chi2,
    )
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").collect()
    cells = {}
    for r in ev:
        a, b, c, d = cells.get(r.event_type, (0, 0, 0, 0))
        if r.user_id % 2 == 0:
            if r.value > AB_CONVERT_CENTS:
                a += 1
            else:
                b += 1
        elif r.value > AB_CONVERT_CENTS:
            c += 1
        else:
            d += 1
        cells[r.event_type] = (a, b, c, d)
    got = {r.event_type: r for r in q_ab_test_chi2(spark, sf_dir).collect()}
    assert set(got) == set(cells)
    for et, (a, b, c, d) in cells.items():
        adbc = float(a * d - b * c)
        t1 = float(a + b + c + d) * adbc / float(a + b) / float(c + d)
        t2 = adbc / float(a + c) / float(b + d)
        expect = math.floor(1000000.0 * t1 * t2)
        r = got[et]
        assert (r.a_conv, r.a_rest, r.b_conv, r.b_rest) == (a, b, c, d), et
        assert r.chi2_micro == expect and r.chi2_micro >= 0
        assert r.significant == (r.chi2_micro > AB_CHI2_95_MICRO)


def test_markov_transitions_python_recount(spark, sf_dir):
    """Triangulate op_markov_transitions with a Python chain recount;
    per-row probabilities must sum to ~1 per source state."""
    import math

    from apitap_spark.operators.temporal import op_markov_transitions
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    ).collect()
    chains = {}
    for r in ev:
        chains.setdefault(r.user_id, []).append((r.us, r.event_id, r.event_type))
    trans = {}
    for rows in chains.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    totals = {}
    for (a, _), n in trans.items():
        totals[a] = totals.get(a, 0) + n
    got = {(r.from_type, r.to_type): r for r in op_markov_transitions(spark, sf_dir).collect()}
    assert set(got) == set(trans)
    for (a, b), n in trans.items():
        r = got[(a, b)]
        assert (r.n, r.n_from) == (n, totals[a])
        assert r.prob_micro == math.floor(1000000.0 * float(n) / float(totals[a]))
    for a in totals:
        s = sum(r.prob_micro for (x, _), r in got.items() if x == a)
        assert 1_000_000 - len(totals) <= s <= 1_000_000  # floors sum just under 1


def test_link_prediction_python_recount(spark, sf_dir):
    """Triangulate op_graph_link_prediction: adjacency recount of
    common-neighbor Jaccard over non-edges."""
    import math

    from apitap_spark.operators.graph import (
        LINKPRED_TOP_K,
        TRI_NEXT_K,
        op_graph_link_prediction,
    )
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("b"), "event_type", "user_id"
    ).distinct().collect()
    buckets = {}
    for r in ev:
        buckets.setdefault((r.b, r.event_type), []).append(r.user_id)
    edges = set()
    for members in buckets.values():
        members.sort()
        for i, u in enumerate(members):
            for v in members[i + 1 : i + 1 + TRI_NEXT_K]:
                edges.add((u, v))
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    scores = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in edges:
                continue
            cn = len(nbrs[u] & nbrs[v])
            if cn:
                un = len(nbrs[u]) + len(nbrs[v]) - cn
                scores[(u, v)] = (
                    cn,
                    un,
                    math.floor(1000000.0 * float(cn) / float(un)),
                )
    expect = sorted(scores, key=lambda p: (-scores[p][2], p))[:LINKPRED_TOP_K]
    got = sorted(op_graph_link_prediction(spark, sf_dir).collect(), key=lambda r: r.rk)
    assert [(r.u, r.v) for r in got] == expect
    for r in got:
        cn, un, jm = scores[(r.u, r.v)]
        assert (r.common_neighbors, r.union_size, r.jaccard_micro) == (cn, un, jm)


def test_seasonal_anomaly_python_recount(spark, sf_dir):
    """Triangulate q_seasonal_anomaly: integer moment recount per
    (type, hour-of-day) slot; anomalies sparse but present at sf0.01."""
    from apitap_spark.plans.timeseries import SEASONAL_Z, q_seasonal_anomaly
    from apitap_spark.session import read_table

    import decimal

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
        "value",
    ).collect()
    hourly = {}
    for r in ev:
        cents = int(
            decimal.Decimal(repr(r.value * 100.0)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        hourly[(r.event_type, r.h)] = hourly.get((r.event_type, r.h), 0) + cents
    slots = {}
    for (et, h), v in hourly.items():
        n, s, q = slots.get((et, h % 24), (0, 0, 0))
        slots[(et, h % 24)] = (n + 1, s + v, q + v * v)
    got = {
        (r.event_type, r.hour_epoch): r
        for r in q_seasonal_anomaly(spark, sf_dir).collect()
    }
    assert set(got) == set(hourly)
    n_anom = 0
    for (et, h), v in hourly.items():
        n, s, q = slots[(et, h % 24)]
        dev2 = (n * v - s) ** 2
        thr = SEASONAL_Z * SEASONAL_Z * (n * q - s * s)
        r = got[(et, h)]
        assert (r.v_cents, r.dev2_scaled, r.threshold_scaled) == (v, dev2, thr)
        assert r.is_anomaly == (dev2 > thr)
        n_anom += r.is_anomaly
    assert n_anom < len(hourly) // 20  # sparse by construction
    if str(sf_dir).rstrip("/").endswith("sf0.01"):
        assert n_anom > 0


def test_erasure_impact_python_recount(spark, sf_dir):
    """Triangulate op_erasure_impact: direct recount of the blast
    radius per table, including the lineitem cascade."""
    from apitap_spark.operators.quality import ERASURE_MOD, op_erasure_impact
    from apitap_spark.session import read_table

    got = {
        r.table_name: (r.rows_total, r.rows_affected)
        for r in op_erasure_impact(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events").collect()
    cu = read_table(spark, sf_dir, "customer").collect()
    orders = read_table(spark, sf_dir, "orders").collect()
    li = read_table(spark, sf_dir, "lineitem").collect()
    aff_orders = {r.o_orderkey for r in orders if r.o_custkey % ERASURE_MOD == 0}
    expect = {
        "events": (len(ev), sum(r.user_id % ERASURE_MOD == 0 for r in ev)),
        "customer": (len(cu), sum(r.c_custkey % ERASURE_MOD == 0 for r in cu)),
        "orders": (len(orders), len(aff_orders)),
        "lineitem": (len(li), sum(r.l_orderkey in aff_orders for r in li)),
    }
    assert got == expect
    assert all(a > 0 for _, a in got.values())  # non-vacuous blast radius


def test_journey_paths_python_recount(spark, sf_dir):
    """Triangulate op_journey_paths with a Python sequence recount."""
    from apitap_spark.operators.temporal import (
        PATH_MAX_EVENTS,
        PATH_TOP_K,
        op_journey_paths,
    )
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    ).collect()
    chains = {}
    for r in ev:
        chains.setdefault(r.user_id, []).append((r.us, r.event_id, r.event_type))
    counts = {}
    for rows in chains.values():
        rows.sort()
        path = ">".join(t for _, _, t in rows[:PATH_MAX_EVENTS])
        counts[path] = counts.get(path, 0) + 1
    expect = sorted(counts, key=lambda p: (-counts[p], p))[:PATH_TOP_K]
    got = sorted(op_journey_paths(spark, sf_dir).collect(), key=lambda r: r.rk)
    assert [r.path for r in got] == expect
    for r in got:
        assert r.n_users == counts[r.path]


def test_cohort_ltv_python_recount(spark, sf_dir):
    """Triangulate q_cohort_ltv with a Python cohort/age recount;
    cumulative must be monotone per cohort."""
    import math

    from apitap_spark.plans.relational6 import q_cohort_ltv
    from apitap_spark.session import read_table

    import decimal

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"), "o_totalprice"
    ).collect()
    om = []
    for r in o:
        cents = int(
            decimal.Decimal(repr(r.o_totalprice * 100.0)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        om.append((r.o_custkey, r.y * 12 + r.mo, cents))
    m0 = {}
    for ck, m, _ in om:
        m0[ck] = min(m0.get(ck, m), m)
    sizes = {}
    for ck, c0 in m0.items():
        sizes[c0] = sizes.get(c0, 0) + 1
    rev, active = {}, {}
    for ck, m, cents in om:
        key = (m0[ck], m - m0[ck])
        rev[key] = rev.get(key, 0) + cents
        active.setdefault(key, set()).add(ck)
    got = {(r.cohort_month, r.age): r for r in q_cohort_ltv(spark, sf_dir).collect()}
    assert set(got) == set(rev)
    for c0 in sizes:
        ages = sorted(a for (c, a) in rev if c == c0)
        cum = 0
        prev_ltv = -1
        for a in ages:
            cum += rev[(c0, a)]
            r = got[(c0, a)]
            assert (r.rev_cents, r.active_users) == (rev[(c0, a)], len(active[(c0, a)]))
            assert (r.cum_rev_cents, r.cohort_users) == (cum, sizes[c0])
            assert r.ltv_milli_cents == math.floor(1000.0 * float(cum) / float(sizes[c0]))
            assert r.ltv_milli_cents >= prev_ltv  # LTV curves never decrease
            prev_ltv = r.ltv_milli_cents


def test_gaps_islands_python_recount(spark, sf_dir):
    """Triangulate q_gaps_islands: Python run-detection over distinct
    active days; islands tile each user's day set exactly."""
    from apitap_spark.plans.timeseries import q_gaps_islands
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("bigint").alias("day"),
    ).distinct().collect()
    days = {}
    for r in ev:
        days.setdefault(r.user_id, set()).add(r.day)
    expect = {}
    for u, ds in days.items():
        run, no = [], 0
        for d in sorted(ds):
            if run and d == run[-1] + 1:
                run.append(d)
            else:
                if run:
                    no += 1
                    expect[(u, no)] = (run[0], run[-1], len(run))
                run = [d]
        no += 1
        expect[(u, no)] = (run[0], run[-1], len(run))
    got = {
        (r.user_id, r.island_no): (r.start_day, r.end_day, r.len_days)
        for r in q_gaps_islands(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(l for _, _, l in got.values()) == sum(len(d) for d in days.values())


def test_churn_labels_python_recount(spark, sf_dir):
    """Triangulate op_churn_labels: leakage split recount — features
    strictly pre-cutoff, labels strictly post-cutoff, both classes
    present."""
    from apitap_spark.operators.temporal import (
        CHURN_HORIZON_DAYS,
        op_churn_labels,
    )
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.floor(F.col("ts").cast("long") / 86400).cast("bigint").alias("day"),
    ).collect()
    maxd = max(r.day for r in ev)
    cut = maxd - CHURN_HORIZON_DAYS
    before, after = {}, set()
    for r in ev:
        k = (r.user_id, r.event_type)
        if r.day <= cut:
            n, last = before.get(k, (0, -1))
            before[k] = (n + 1, max(last, r.day))
        else:
            after.add(k)
    got = {
        (r.user_id, r.event_type): r for r in op_churn_labels(spark, sf_dir).collect()
    }
    assert set(got) == set(before)
    classes = set()
    for k, (n, last) in before.items():
        r = got[k]
        assert (r.n_before, r.recency_days) == (n, cut - last), k
        assert r.churned == (k not in after)
        classes.add(r.churned)
    assert classes == {True, False}


def test_asof_nearest_python_replay(spark, sf_dir):
    """Triangulate op_asof_join_nearest: per-click Python scan of the
    user's purchases picking min(|delta|, ts); both directions must
    appear."""
    from apitap_spark.operators.temporal import op_asof_join_nearest
    from apitap_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    ).collect()
    purchases = {}
    for r in ev:
        if r.event_type == "purchase":
            k = (r.user_id, r.us)
            purchases[k] = max(purchases.get(k, float("-inf")), r.value)
    by_user = {}
    for (u, us), v in purchases.items():
        by_user.setdefault(u, []).append((us, v))
    got = {r.event_id: r for r in op_asof_join_nearest(spark, sf_dir).collect()}
    dirs = set()
    n_checked = 0
    for r in ev:
        if r.event_type != "click":
            continue
        g = got[r.event_id]
        cands = by_user.get(r.user_id, [])
        if not cands:
            assert g.match_ts is None and g.direction is None
            continue
        best = min(cands, key=lambda c: (abs(c[0] - r.us), c[0]))
        assert g.delta_micros == best[0] - r.us, r.event_id
        assert g.purchase_value == best[1]
        assert g.direction == ("backward" if best[0] <= r.us else "forward")
        dirs.add(g.direction)
        n_checked += 1
    assert n_checked and dirs == {"backward", "forward"}


def test_modularity_python_recount(spark, sf_dir):
    """Triangulate op_graph_modularity: Python recount of weighted
    modularity over the LP communities. On this hub-dominated star
    graph the LP partition scores slightly NEGATIVE Q (hubs bridge
    communities) — exactly the degenerate-partition signal the audit
    exists to surface; the test pins the exact integers and the
    theoretical Q range."""
    from apitap_spark.operators.graph import op_graph_label_propagation, op_graph_modularity
    from apitap_spark.session import read_table

    comm = {
        r.user_id: r.community
        for r in op_graph_label_propagation(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events").collect()
    groups = {}
    for e in ev:
        b = e.ts.replace(minute=0, second=0, microsecond=0)
        groups.setdefault((b, e.event_type), set()).add(e.user_id)
    w = {}
    for members in groups.values():
        hub = min(members)
        for u in members:
            if u != hub:
                w[(u, hub)] = w.get((u, hub), 0) + 1
                w[(hub, u)] = w.get((hub, u), 0) + 1
    two_m = sum(w.values())
    in_w, tot_w, nodes = {}, {}, {}
    for u, c in comm.items():
        nodes[c] = nodes.get(c, 0) + 1
        tot_w.setdefault(c, 0)
    for (u, v), wt in w.items():
        tot_w[comm[u]] = tot_w.get(comm[u], 0) + wt
        if comm[u] == comm[v]:
            in_w[comm[u]] = in_w.get(comm[u], 0) + wt
    got = {r.community: r for r in op_graph_modularity(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    q_num = 0
    for c in nodes:
        r = got[c]
        expect = (nodes[c], in_w.get(c, 0), tot_w[c], two_m,
                  two_m * in_w.get(c, 0) - tot_w[c] * tot_w[c])
        assert (r.n_nodes, r.in_w, r.tot_w, r.two_m, r.contrib_num) == expect, c
        q_num += r.contrib_num
    q = q_num / (two_m * two_m)
    assert -0.5 <= q < 1  # theoretical modularity range
    assert any(r.in_w > 0 for r in got.values())  # non-vacuous partition


def test_hits_python_recount(spark, sf_dir):
    """Triangulate op_graph_hits: a pure-Python integer replay of the
    mean-normalized iteration must match bit-for-bit, and the integer
    ranking must agree with a float L2-normalized HITS power iteration
    on the top/bottom of each side (the normalization only rescales)."""
    from apitap_spark.operators.graph import (
        HITS_ITERS,
        HITS_SCALE,
        op_graph_hits,
    )
    from apitap_spark.session import read_table

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = {
        (r.o_custkey, r.l_partkey)
        for r in o.join(li, o.o_orderkey == li.l_orderkey).collect()
    }
    by_p, by_c = {}, {}
    for c, p in pairs:
        by_p.setdefault(p, []).append(c)
        by_c.setdefault(c, []).append(p)
    h = {c: HITS_SCALE for c in by_c}
    for _ in range(HITS_ITERS):
        a_raw = {p: sum(h[c] for c in cs) for p, cs in by_p.items()}
        ma = max(sum(a_raw.values()) // len(a_raw), 1)
        a = {p: (v * HITS_SCALE) // ma for p, v in a_raw.items()}
        h_raw = {c: sum(a[p] for p in ps) for c, ps in by_c.items()}
        mh = max(sum(h_raw.values()) // len(h_raw), 1)
        h = {c: (v * HITS_SCALE) // mh for c, v in h_raw.items()}
    a_raw = {p: sum(h[c] for c in cs) for p, cs in by_p.items()}
    ma = max(sum(a_raw.values()) // len(a_raw), 1)
    a = {p: (v * HITS_SCALE) // ma for p, v in a_raw.items()}

    rows = op_graph_hits(spark, sf_dir).collect()
    got_h = {r.id: r.score_micro for r in rows if r.kind == "hub"}
    got_a = {r.id: r.score_micro for r in rows if r.kind == "authority"}
    assert got_h == h
    assert got_a == a

    # float L2 power iteration: ranking must agree at the extremes
    fh = {c: 1.0 for c in by_c}
    for _ in range(30):
        fa = {p: sum(fh[c] for c in cs) for p, cs in by_p.items()}
        na = sum(v * v for v in fa.values()) ** 0.5
        fa = {p: v / na for p, v in fa.items()}
        fh = {c: sum(fa[p] for p in ps) for c, ps in by_c.items()}
        nh = sum(v * v for v in fh.values()) ** 0.5
        fh = {c: v / nh for c, v in fh.items()}
    top_int = max(got_h, key=lambda c: (got_h[c], -c))
    top_flt = max(fh, key=lambda c: (fh[c], -c))
    assert top_int == top_flt
    bot_int = min(got_h, key=lambda c: (got_h[c], c))
    bot_flt = min(fh, key=lambda c: (fh[c], c))
    assert bot_int == bot_flt


def test_interval_union_python_recount(spark, sf_dir):
    """Replay the merge-overlapping-intervals sweep in Python."""
    from apitap_spark.operators.temporal import (
        IU_PAD_SEC,
        op_interval_union_coverage,
    )
    from apitap_spark.session import read_table

    rows = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id")
        .collect()
    )
    pad = IU_PAD_SEC * 1_000_000
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.us - pad, r.us + pad, r.event_id))
    expect = {}
    merged_any = False
    for u, ivals in by_user.items():
        ivals.sort()
        islands = []
        for s, t, _ in ivals:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], t)
                islands[-1][2] += 1
                merged_any = True
            else:
                islands.append([s, t, 1])
        expect[u] = (
            len(ivals),
            len(islands),
            sum(t - s for s, t, _ in islands),
        )
    got = {
        r.user_id: (r.n_windows, r.n_islands, r.covered_us)
        for r in op_interval_union_coverage(spark, sf_dir).collect()
    }
    assert got == expect
    assert merged_any  # at least one overlap actually merged
    for r in op_interval_union_coverage(spark, sf_dir).collect():
        assert r.covered_seconds == r.covered_us // 1_000_000
        assert r.n_islands <= r.n_windows


def test_kmv_python_recount(spark, sf_dir):
    """Recount the KMV sketch in Python (hashlib md5 order statistics)
    and bound its error: k=64 gives ~12.6% std error, so the estimate
    must land within 50% of truth on every group."""
    import hashlib
    import math

    from apitap_spark.operators.quality import KMV_K, op_distinct_kmv_estimate
    from apitap_spark.session import read_table

    rows = (
        read_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    groups = {}
    for r in rows:
        groups.setdefault(r.event_type, set()).add(r.user_id)
    got = {r.event_type: r for r in op_distinct_kmv_estimate(spark, sf_dir).collect()}
    assert set(got) == set(groups)
    two60 = 1152921504606846976.0
    for et, users in groups.items():
        hs = sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
            for u in users
        )
        r = got[et]
        assert r.n_exact == len(users)
        assert r.k == KMV_K
        if len(users) >= KMV_K:
            hk = hs[KMV_K - 1]
            assert r.h_k == hk
            assert r.kmv_estimate == math.floor(
                (float(KMV_K - 1) * two60) / float(hk)
            )
            assert abs(r.kmv_estimate - r.n_exact) / r.n_exact < 0.5
        else:
            assert r.kmv_estimate == r.n_exact
        assert r.rel_err_micro == math.floor(
            1000000.0
            * abs(float(r.kmv_estimate - r.n_exact))
            / float(r.n_exact)
        )
