"""Join-graph extraction + adaptive reordering (plans/graph.py).

The reference derives its join graph from any parsed query
(src/query/QueryInfo.java:336-363) — these tests assert our Catalyst-plan
extraction recovers the same graph a human would write by hand, reorders
without changing results, and refuses every shape where reordering is not
provably safe.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans.graph import (
    ExtractionError,
    adaptive_reorder,
    extract_query_graph,
)
from skinnerdb_spark.queries.util import read_table, ts


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    register_views(spark, sf_dir)


def test_extracted_edges_match_handwritten_star(spark, sf_dir):
    """The graph extracted from adaptive_star_join's join equals the edge
    list a human would write by hand."""
    dfs = {
        "lineitem": read_table(spark, sf_dir, "lineitem"),
        "orders": read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") >= ts("1996-01-01")
        ),
        "supplier": read_table(spark, sf_dir, "supplier"),
        "nation": read_table(spark, sf_dir, "nation"),
    }
    df = (
        dfs["lineitem"]
        .join(dfs["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dfs["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(dfs["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
    )
    graph = extract_query_graph(df)
    hand = {
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
    }
    got = {
        (e.left_table, e.left_col, e.right_table, e.right_col) for e in graph.edges
    }
    assert got == hand
    assert set(graph.names) == {"lineitem", "orders", "supplier", "nation"}
    # local predicate (the orders date filter) pushed into the leaf, not lost
    assert "1996" in graph.leaves["orders"]._jdf.queryExecution().analyzed().toString()
    # fact = biggest estimated input
    assert graph.fact == "lineitem"


def test_est_rows_footer_exact_not_bytes_guess(spark, sf_dir):
    """ADVICE r8: the exploit gate's row estimate must be an actual row
    count (parquet footers / CBO), not sizeInBytes//100 — the byte guess
    overshoots wide-row tables (documents: multi-KB text rows) by 10-100x
    and froze bandit learning far below the intended 16M-row regime."""
    dfs = {
        "documents": read_table(spark, sf_dir, "documents"),
        "lineitem": read_table(spark, sf_dir, "lineitem"),
        "orders": read_table(spark, sf_dir, "orders"),
    }
    df = (
        dfs["lineitem"]
        .join(dfs["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dfs["documents"], F.col("l_orderkey") == F.col("doc_id"))
    )
    g = extract_query_graph(df)
    for name, ldf in dfs.items():
        true_n = ldf.count()
        est = g.est_rows(name)
        # footer-backed: exact for an unfiltered scan (vs the byte guess,
        # which for documents at sf0.001 lands ~10x over)
        assert est == true_n, (name, est, true_n)
        byte_guess = max(
            1,
            int(ldf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) // 100,
        )
        if name == "documents":
            # the byte guess lands wide of the mark even at this tiny SF
            # (and 10-100x wide at real SFs, where text compresses worse);
            # the footer path must not inherit that error
            assert byte_guess != true_n, (
                f"byte guess coincidentally exact ({byte_guess}); pick a "
                "different demonstration table"
            )
        # cached on the graph after first call
        assert g.row_counts[name] == est


def test_sql_text_reorder_identical(spark):
    q = """SELECT n_name, COUNT(*) AS c
           FROM lineitem, orders, supplier, nation
           WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
             AND s_nationkey = n_nationkey
             AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
           GROUP BY n_name"""
    base = spark.sql(q)
    res = adaptive_reorder(spark.sql(q), episodes=2, max_orders=6)
    assert len(res.best_order) == 4
    assert res.df.columns == base.columns
    assert res.df.exceptAll(base).count() == 0
    assert base.exceptAll(res.df).count() == 0


def test_theta_conjunct_preserved(spark):
    q = """SELECT s_name, COUNT(*) AS n
           FROM lineitem, supplier, orders
           WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
             AND l_extendedprice > o_totalprice * 0.5
           GROUP BY s_name"""
    base, res = spark.sql(q), adaptive_reorder(spark.sql(q), episodes=2)
    assert res.best_order  # eligible
    assert res.df.exceptAll(base).count() == 0
    assert base.exceptAll(res.df).count() == 0


def test_self_join_disambiguated(spark):
    q = """SELECT COUNT(*) AS c
           FROM lineitem a, lineitem b, orders
           WHERE a.l_orderkey = b.l_orderkey AND a.l_orderkey = o_orderkey
             AND a.l_linenumber < b.l_linenumber"""
    res = adaptive_reorder(spark.sql(q), episodes=2)
    assert sorted(res.best_order) == ["a", "b", "orders"] or res.best_order
    assert res.df.collect() == spark.sql(q).collect()


def test_no_parents_pins_column_order(spark):
    q = """SELECT * FROM supplier, nation, region
           WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey"""
    base, res = spark.sql(q), adaptive_reorder(spark.sql(q), episodes=2)
    assert res.df.columns == base.columns
    assert res.df.exceptAll(base).count() == 0


@pytest.mark.parametrize(
    "q,reason_part",
    [
        ("SELECT COUNT(*) AS c FROM lineitem, orders WHERE l_orderkey = o_orderkey", "2 join inputs"),
        (
            "SELECT COUNT(*) AS c FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
            "LEFT JOIN nation ON c_nationkey = n_nationkey",
            "non-inner",
        ),
        (
            "SELECT o_orderpriority, COUNT(*) AS c FROM orders, lineitem, customer "
            "WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey "
            "AND l_quantity > (SELECT AVG(l_quantity) FROM lineitem) GROUP BY o_orderpriority",
            "subquery",
        ),
        (
            # disconnected: events has no equi edge to the tpch tables
            "SELECT COUNT(*) AS c FROM supplier, nation, events "
            "WHERE s_nationkey = n_nationkey AND s_suppkey > 0",
            "no",  # disconnected -> 'have no equi edge' (or cartesian refusal)
        ),
        (
            # rand() placement is semantics: repositioning changes which rows
            # it filters (Catalyst's PushDownPredicates refuses these too)
            "SELECT COUNT(*) AS c FROM supplier, nation, region "
            "WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
            "AND rand() < 1.1",
            "non-deterministic",
        ),
    ],
)
def test_ineligible_shapes_fall_back(spark, q, reason_part):
    df = spark.sql(q)
    with pytest.raises(ExtractionError, match=reason_part):
        extract_query_graph(df)
    res = adaptive_reorder(df)
    assert res.best_order == ()
    assert res.df is df  # unchanged plan


def test_nondeterministic_fallback_matches_catalyst(spark):
    """A query with a rand() conjunct declines adaptivity and runs through
    Catalyst unchanged — with a tautological bound the result is stable, so
    fallback-equals-Catalyst is directly assertable."""
    q = ("SELECT COUNT(*) AS c FROM supplier, nation, region "
         "WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
         "AND rand() < 1.1")
    res = adaptive_reorder(spark.sql(q), episodes=2)
    assert res.best_order == ()
    assert "non-deterministic" in getattr(res, "reason", "")
    assert res.df.collect() == spark.sql(q).collect()


def test_order_cache_not_shared_across_warehouses(spark, sf_dir):
    """Same table names, different warehouse directories -> different cache
    signatures (learned orders must not leak across data scales)."""
    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey")
    g1 = extract_query_graph(spark.sql(q))
    register_views(spark, "/root/testdata/sf0.01")
    try:
        g2 = extract_query_graph(spark.sql(q))
    finally:
        register_views(spark, sf_dir)  # restore module-fixture views
    assert g1.shape_sig != g2.shape_sig
    assert g1.signature != g2.signature
    assert g1.transfer_sig == g2.transfer_sig  # the scope-free transfer key


def test_cross_warehouse_order_transfer(spark, sf_dir, monkeypatch):
    """An order learned on one warehouse warm-starts the SAME query shape on
    a different warehouse (scope-free transfer tier): the transferred order
    enters the episode duel as the INCUMBENT arm and the validated winner is
    written under the new scope's signatures. Above the exploit threshold
    the duel is skipped and the order is served as a warm start only."""
    from skinnerdb_spark.plans import graph as G

    monkeypatch.setenv("SKINNER_ORDER_CACHE_PERSIST", "0")
    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND o_totalprice > 999.0")
    g1 = extract_query_graph(spark.sql(q))
    for k in (g1.signature, g1.shape_sig, g1.transfer_sig):
        G._ORDER_CACHE.pop(k, None)
    r1 = adaptive_reorder(spark.sql(q), episodes=2)
    assert r1.episodes  # cold: learned via sampled episodes
    register_views(spark, "/root/testdata/sf0.01")
    try:
        # earlier tests (or the persisted file) may already hold an
        # AUTHORITATIVE order for this query at the sf0.01 scope — drop it
        # so the lookup can only hit the transfer tier under test
        def _pop_scope_sigs():
            g2 = extract_query_graph(spark.sql(q))
            G._ORDER_CACHE.pop(g2.signature, None)
            G._ORDER_CACHE.pop(g2.shape_sig, None)
            return g2

        # default (validated): episodes run with the transferred order as
        # the first arm played, and the winner IS cached under this scope
        g2 = _pop_scope_sigs()
        r4 = adaptive_reorder(spark.sql(q), episodes=2)
        assert r4.episodes  # duel happened
        assert r4.episodes[0].order == r1.best_order  # incumbent played first
        assert g2.signature in G._ORDER_CACHE  # validated winner cached here

        # exploit-only fast path at scale (VERDICT r7 item 3): with the
        # size threshold forced below this warehouse, a previously-duelled
        # transferred order is exploited with ZERO episodes — and stays a
        # warm start, never authority
        monkeypatch.setattr(G, "_TRANSFER_EXPLOIT_ROWS", 1)
        g2 = _pop_scope_sigs()
        before = G.adaptive_counters()
        r5 = adaptive_reorder(spark.sql(q), episodes=2)
        after = G.adaptive_counters()
        assert getattr(r5, "reason", None) == "transfer-exploit"
        assert r5.best_order == r1.best_order
        assert not r5.episodes
        assert after["exploit_hits"] == before["exploit_hits"] + 1
        assert after["episodes"] == before["episodes"]
        assert g2.signature not in G._ORDER_CACHE
    finally:
        register_views(spark, sf_dir)


def test_order_cache_hit(spark, monkeypatch):
    q = """SELECT COUNT(*) AS c FROM customer, orders, nation
           WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey
             AND o_totalprice > 1234.5"""
    # isolate from the cross-session persisted cache: a previous process may
    # already have learned this exact signature
    from skinnerdb_spark.plans import graph as G

    monkeypatch.setenv("SKINNER_ORDER_CACHE_PERSIST", "0")
    g = extract_query_graph(spark.sql(q))
    G._ORDER_CACHE.pop(g.signature, None)
    G._ORDER_CACHE.pop(g.shape_sig, None)
    G._ORDER_CACHE.pop(g.transfer_sig, None)
    r1 = adaptive_reorder(spark.sql(q), episodes=2)
    assert r1.episodes  # learned
    r2 = adaptive_reorder(spark.sql(q), episodes=2)
    assert getattr(r2, "reason", None) == "cached"
    assert r2.best_order == r1.best_order


def test_broadcast_hint_survives_reorder(spark):
    """Leaf-level broadcast hints ride along into the reordered plan."""
    l = spark.table("lineitem")
    p = spark.table("part").filter(F.col("p_size") > 10)
    s = spark.table("supplier")
    df = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .agg(F.min("p_name").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    res = adaptive_reorder(df, episodes=2)
    assert res.best_order
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert res.df.collect() == df.collect()


def test_bench_dir_runs_corpus_sample(spark, sf_dir, tmp_path):
    """Engine.bench_dir executes committed corpus files with full per-query
    stats (BenchUtil.java:66-79 parity columns) through the adaptive path."""
    import glob
    import os
    import shutil

    from skinnerdb_spark.engine import Engine

    corpus = os.path.join(os.path.dirname(__file__), "..", "queries_sql")
    picks = sorted(glob.glob(os.path.join(corpus, "*.sql")))[::40][:3]
    assert picks, "committed corpus missing"
    for p in picks:
        shutil.copy(p, tmp_path)
    eng = Engine(spark, sf_dir=sf_dir)
    res = eng.bench_dir(str(tmp_path), adaptive=True, episodes=2)
    assert len(res) == len(picks)
    for r in res:
        assert r["rows"] >= 0 and r["millis"] >= 0
        for key in ("shuffle_count", "shuffle_write_bytes", "spill_bytes",
                    "peak_mem_bytes", "join_order"):
            assert key in r
    # at least one corpus query is eligible and got a learned order
    assert any(r["join_order"] for r in res)


# --------------------------------------------------------------------------
# fuzz: adaptive reordering must be result-identical to Catalyst for random
# connected join queries over the warehouse graph
# --------------------------------------------------------------------------
_WAREHOUSE_EDGES = {
    ("lineitem", "orders"): "l_orderkey = o_orderkey",
    ("lineitem", "part"): "l_partkey = p_partkey",
    ("lineitem", "supplier"): "l_suppkey = s_suppkey",
    ("orders", "customer"): "o_custkey = c_custkey",
    ("customer", "nation"): "c_nationkey = n_nationkey",
    ("nation", "region"): "n_regionkey = r_regionkey",
}

_LOCAL_PREDS = [
    "l_quantity BETWEEN 5 AND 45",
    "l_discount < 0.08",
    "o_totalprice > 1000",
    "o_orderstatus <> 'P'",
    "p_size BETWEEN 5 AND 45",
    "p_name LIKE '%a%'",
    "s_acctbal > -500",
    "c_acctbal > 0",
    "n_nationkey < 20",
    "r_regionkey >= 0",
]

_TABLE_PREFIX = {
    "lineitem": "l_", "orders": "o_", "part": "p_", "supplier": "s_",
    "customer": "c_", "nation": "n_", "region": "r_",
}


def _gen_join_query(seed: int) -> str:
    import random

    rng = random.Random(seed)
    tables = ["lineitem"]
    conds = []
    while len(tables) < rng.randint(3, 5):
        cands = [
            (pair, cond)
            for pair, cond in _WAREHOUSE_EDGES.items()
            if (pair[0] in tables) != (pair[1] in tables)
        ]
        pair, cond = rng.choice(cands)
        tables.append(pair[0] if pair[1] in tables else pair[1])
        conds.append(cond)
    prefixes = {_TABLE_PREFIX[t] for t in tables}
    preds = [p for p in _LOCAL_PREDS if p[:2] in prefixes and rng.random() < 0.5]
    where = " AND ".join(conds + preds)
    return (
        f"SELECT COUNT(*) AS n, MIN(l_extendedprice) AS m "
        f"FROM {', '.join(tables)} WHERE {where}"
    )


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_adaptive_identical_to_catalyst(spark, seed):
    q = _gen_join_query(seed)
    base = spark.sql(q).collect()
    res = adaptive_reorder(spark.sql(q), episodes=2, use_cache=False)
    assert len(res.best_order) >= 3, f"{q} should be eligible"
    assert res.df.collect() == base, q


def _deep_corpus() -> list[str]:
    import glob
    import os

    corpus = os.path.join(os.path.dirname(__file__), "..", "queries_sql")
    return sorted(
        os.path.basename(p)
        for pat in ("t8_deep8_*.sql", "t9_deep10_*.sql", "t10_deep12_*.sql",
                    "t11_deep15_*.sql", "t12_deep17_*.sql")
        for p in glob.glob(os.path.join(corpus, pat))
    )


@pytest.mark.parametrize("fname", _deep_corpus())
def test_deep_corpus_adaptive_identical_to_catalyst(spark, fname):
    """JOB-depth coverage (reference: up-to-17-way joins,
    imdb/queries/29a.sql): every committed 8/10/12-leaf corpus query is
    bandit-eligible — self-joined dims disambiguated, the linenumber theta
    preserved as a post-bind conjunct — and collect()-identical to Catalyst."""
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "queries_sql", fname)
    with open(path) as f:
        q = f.read()
    base = spark.sql(q).collect()
    res = adaptive_reorder(spark.sql(q), episodes=2, max_orders=8, use_cache=False)
    n_leaves = int(fname.split("deep")[1].split("_")[0])
    assert len(res.best_order) == n_leaves, f"{fname} should be eligible"
    assert res.df.collect() == base, fname


def test_deep_corpus_has_twenty_plus_queries():
    assert len(_deep_corpus()) >= 20


def test_order_cache_persists_across_processes(spark, tmp_path, monkeypatch):
    """Learned orders survive process restarts (the reference rebuilds its
    UCT state every session; we persist, like the IVF index): save writes an
    atomic JSON snapshot, load merges it back with in-process entries
    winning, and tuple keys round-trip exactly."""
    from skinnerdb_spark.plans import graph as G

    # keep the test away from the REAL persisted file: no auto-save, and the
    # synthetic key must never leak into spark-warehouse/joinorder_cache.json
    monkeypatch.setenv("SKINNER_ORDER_CACHE_PERSIST", "0")
    path = str(tmp_path / "orders.json")
    key = (("a", "b"), ("file:/x",), (("a", "k", "b", "k"),), ("(a.k = 1)",))
    G._cache_put(key, ("a", "b"))
    G.save_order_cache(path)

    saved = dict(G._ORDER_CACHE)
    G._ORDER_CACHE.clear()
    assert G.load_order_cache(path) >= 1
    assert G._ORDER_CACHE[key] == ("a", "b"), "tuple keys must round-trip"
    # in-process entries win over the file on merge
    G._ORDER_CACHE[key] = ("b", "a")
    G.load_order_cache(path)
    assert G._ORDER_CACHE[key] == ("b", "a")
    G._ORDER_CACHE.clear()
    G._ORDER_CACHE.update(saved)


def test_budgeted_episode_cancellation_and_learning(spark, sf_dir):
    """Budgeted episodes (r6 — the reference's 500-step episode budget,
    JoinConfig.java:22, in Spark idiom): an episode exceeding the wall-clock
    budget is cancelled via job-group interruption, recorded as timed_out
    with a penalized reward, and the session stays fully usable; the final
    execution is never budgeted, so results are exact either way."""
    import time

    from pyspark.sql import functions as F

    from skinnerdb_spark.catalog import read_table
    from skinnerdb_spark.plans.joinorder import budgeted_count

    # a query slow enough to overrun a 0.3 s budget deterministically
    slow = (
        spark.range(0, 3000)
        .crossJoin(spark.range(0, 3000).select(F.col("id").alias("j")))
        .select(F.sha2(F.concat_ws("-", "id", "j"), 256).alias("h"))
        .filter(F.col("h").contains("deadbeefcafe"))
    )
    t0 = time.monotonic()
    n, dt = budgeted_count(slow, budget_s=0.3)
    assert n is None, "overrunning episode must be cancelled"
    assert dt >= 0.3
    assert time.monotonic() - t0 < 35, "cancellation must not hang"
    # the session survives the cancellation
    assert spark.range(10).count() == 10
    # unbudgeted path unchanged
    n2, _ = budgeted_count(spark.range(100), budget_s=None)
    assert n2 == 100

    # end-to-end: a tiny budget times out every episode, yet the winning
    # order still executes in full and matches Catalyst
    import os

    from skinnerdb_spark.plans import graph

    os.environ["SKINNER_ORDER_CACHE_PERSIST"] = os.environ.get(
        "SKINNER_ORDER_CACHE_PERSIST", "1"
    )
    df = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    g = graph.extract_query_graph(df)
    graph._ORDER_CACHE.pop(g.signature, None)
    graph._ORDER_CACHE.pop(g.shape_sig, None)
    graph._ORDER_CACHE.pop(g.transfer_sig, None)
    res = graph.adaptive_reorder(
        spark.sql(
            "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
            "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
        ),
        episodes=2,
        episode_budget_s=0.001,
        use_cache=False,
    )
    assert res.episodes and all(e.timed_out for e in res.episodes), res.episodes
    assert all(e.rows == -1 for e in res.episodes)
    expect = df.collect()
    assert res.df.collect() == expect, "final execution must be exact"


def test_prefix_progress_resumes_partial_joins(spark):
    """ProgressTracker analogue (r7 — src/joining/progress/ProgressTracker
    .java:64-148 in Spark idiom): exploration episodes persist each partial
    join keyed by its bound-table SET and later episodes resume from the
    persisted blocks. Set keying shares strictly more than the reference's
    order-prefix keying: order (f,a,b) seeds order (f,b,a) at the full set."""
    from skinnerdb_spark.plans.graph import build_graph_chain
    from skinnerdb_spark.plans.joinorder import PrefixProgress

    f = spark.createDataFrame(
        [(i, i % 5, i % 7) for i in range(60)], "fid bigint, ja bigint, jb bigint")
    da = spark.createDataFrame([(i, i * 10) for i in range(5)], "ja2 bigint, av bigint")
    db = spark.createDataFrame([(i, i * 100) for i in range(7)], "jb2 bigint, bv bigint")
    graph = extract_query_graph(
        f.alias("f")
        .join(da.alias("a"), F.col("ja") == F.col("ja2"))
        .join(db.alias("b"), F.col("jb") == F.col("jb2"))
    )
    assert sorted(graph.names) == ["a", "b", "f"]

    want = sorted(map(tuple, build_graph_chain(graph, ("f", "a", "b")).collect()))

    sc = spark.sparkContext
    persisted_before = sc._jsc.getPersistentRDDs().size()
    prog = PrefixProgress()
    c1 = build_graph_chain(graph, ("f", "a", "b"), progress=prog)
    assert sorted(map(tuple, c1.collect())) == want
    assert prog.hits == 0  # first episode: nothing to resume
    # different order, same final set: the 3-table frame is resumed
    c2 = build_graph_chain(graph, ("f", "b", "a"), progress=prog)
    assert prog.hits == 1
    assert sorted(map(tuple, c2.collect())) == want
    # identical order: resumes at the terminal set (mid-chain prefixes are
    # deliberately not persisted — measured net loss, see PrefixProgress)
    build_graph_chain(graph, ("f", "a", "b"), progress=prog)
    assert prog.hits == 2
    prog.clear()
    assert sc._jsc.getPersistentRDDs().size() == persisted_before


def test_adaptive_reorder_episodes_share_progress(spark):
    """The arbitrary-SQL path (plans/graph.py) shares episode progress too.
    First plays are record-only (cold, comparable rewards), so resumes
    appear on REPEAT plays: this query has 4 connected orders, so 6
    episodes guarantee >= 2 repeats, each resuming its own full chain."""
    import os

    from skinnerdb_spark.plans import graph

    os.environ.setdefault("SKINNER_ORDER_CACHE_PERSIST", "1")
    sc = spark.sparkContext
    persisted_before = sc._jsc.getPersistentRDDs().size()
    df = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    g = graph.extract_query_graph(df)
    graph._ORDER_CACHE.pop(g.signature, None)
    graph._ORDER_CACHE.pop(g.shape_sig, None)
    graph._ORDER_CACHE.pop(g.transfer_sig, None)
    res = graph.adaptive_reorder(df, episodes=6, use_cache=False)
    assert res.episodes, "episodes must have run"
    assert res.prefix_hits >= 1, "repeat plays must resume persisted prefixes"
    assert res.df.collect()[0]["n"] == df.collect()[0]["n"]
    assert sc._jsc.getPersistentRDDs().size() == persisted_before


def test_episode_loop_stops_at_first_progress_hit(spark, monkeypatch):
    """ADVICE r7: an episode served from a persisted TERMINAL frame measures
    the cache, not the arm — its reward must not feed the bandit, and since
    a hit implies every arm already has a cold play (first plays are
    record-only misses) the loop stops: prefix_hits can never exceed 1 and
    episode count is bounded by arms+1 even when far more episodes are
    requested."""
    from skinnerdb_spark.plans import graph as G

    monkeypatch.setenv("SKINNER_ORDER_CACHE_PERSIST", "0")
    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND o_totalprice > 777.0")
    g = G.extract_query_graph(spark.sql(q))
    for k in (g.signature, g.shape_sig, g.transfer_sig):
        G._ORDER_CACHE.pop(k, None)
    res = G.adaptive_reorder(spark.sql(q), episodes=12, use_cache=False)
    assert res.best_order
    assert res.prefix_hits <= 1, (
        "terminal-frame hits beyond the first add no signal — loop must stop"
    )
    assert len(res.episodes) <= 12
    # every bandit-scored episode is a cold play of a distinct arm: orders
    # among the non-hit episodes must be unique
    if res.prefix_hits:
        cold = res.episodes[:-1]
        assert len({e.order for e in cold}) == len(cold)


def test_adaptive_star_join_learns_uncached_and_matches_catalyst(
        spark, sf_dir, monkeypatch):
    """The registry's adaptive entry goes through adaptive_reorder like every
    other adaptive path: it runs episodes, never reads or writes the learned
    order cache, honours SKINNER_ADAPTIVE_DISABLE, and returns Catalyst's
    rows."""
    from skinnerdb_spark.plans import graph as G
    from skinnerdb_spark.queries.adaptive import adaptive_star_join

    def no_cache(*_):
        raise AssertionError("adaptive_star_join must not touch the order cache")

    monkeypatch.setattr(G, "_cache_get", no_cache)
    monkeypatch.setattr(G, "_cache_put", no_cache)
    cache_before = dict(G._ORDER_CACHE)
    episodes_before = G.adaptive_counters()["episodes"]
    got = sorted(map(tuple, adaptive_star_join(spark, sf_dir).collect()))
    assert G.adaptive_counters()["episodes"] > episodes_before
    assert G._ORDER_CACHE == cache_before

    monkeypatch.setenv("SKINNER_ADAPTIVE_DISABLE", "1")
    episodes_before = G.adaptive_counters()["episodes"]
    want = sorted(map(tuple, adaptive_star_join(spark, sf_dir).collect()))
    assert G.adaptive_counters()["episodes"] == episodes_before
    assert got == want and got


def test_jvm_class_cache_never_serves_a_dead_view():
    """ADVICE r12: class handles keyed by id(spark._jvm) leak across views —
    once a view is freed, CPython may hand its id to the next one, which
    then receives the dead view's handles. The cache must serve every view
    its OWN handles."""
    import gc
    from types import SimpleNamespace

    from skinnerdb_spark.plans import graph as G

    class View:
        def __init__(self):
            self.handle = object()  # holds no reference back to the view

        def __getattr__(self, name):
            return self.__dict__["handle"]

    view = View()
    dead_id = id(view)
    assert G._jcls(SimpleNamespace(_jvm=view), "Cls") is view.handle
    del view
    gc.collect()
    # the freed slot is usually reused at once; take the view that got it
    fresh = [View() for _ in range(1000)]
    view = next((v for v in fresh if id(v) == dead_id), fresh[-1])
    assert G._jcls(SimpleNamespace(_jvm=view), "Cls") is view.handle
