#!/usr/bin/env python3
"""The repository benchmark: served join orders and the memoised operator
families, timed end to end, with learning and every layer in a traced run.

    python3 perfbench/run.py --workload join_serve --seed 1 --seconds 20 --trace 0

One closed-loop client sends one query at a time to one ``local[nproc]``
Spark session over the warehouse at ``skinnerdb_spark.catalog.DEFAULT_SF_DIR``
(``SPARK_GRAFT_SF_DIR`` moves it). A run sets the session up several times
and reports the median set-up time, warms up, then measures whole rounds of
its workload: at least one, and more only while they fit in ``--seconds``.
After the loop, outside the timed region, every result is checked against
DuckDB. The last line of standard output is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it carries the run's detail: ambient state, per-query latency,
failures by query name and, when traced, layer self times.

Workloads, metrics and their layers are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

import spans
from spans import ATTRS, END, START

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORPUS = os.path.join(ROOT, "queries_sql")
ORDERS = os.path.join(HERE, "orders.json")
#: placeholder for the warehouse directory inside orders.json scan paths
SF_TOKEN = "{sf}"

#: join_learn is not in BENCHMARK.json (see README.md); it runs by hand,
#: and join_serve's traced run measures learning per query
WORKLOADS = ("join_serve", "operator_families", "join_learn")
#: set-ups per run; the median is setup_s (the first pays the JVM launch)
SETUPS = 3
#: the adaptive tier's settings, as bench.py runs the corpus
ADAPTIVE_KW = dict(episodes=2, sample_rows=8000, episode_budget_s=10.0)
#: corpus query that warms the join path before the loop
WARM_QUERY = "t1_star_01.sql"
#: the session-shared family builds, in bench.py's order (a build's memo
#: inputs come before it): (label, module under skinnerdb_spark.operators,
#: public builder)
FAMILIES = (
    ("family:co_edges", "analytics", "shared_co_edges"),
    ("family:bigram_inst", "text", "shared_bigram_instances"),
    ("family:doc_len", "analytics", "shared_doc_lengths"),
    ("family:bm25_tf", "analytics", "shared_bm25_tf"),
    ("family:minhash_sigs", "dedup", "shared_sigs"),
    ("family:shingle_sets", "dedup", "shared_shingle_sets"),
    ("family:shingle_hashes", "dedup", "shared_shingle_hashes"),
    ("family:lsh_candidates", "dedup", "lsh_candidates"),
    ("family:verified_pairs", "dedup", "shared_verified_pairs"),
    ("family:prefix_pairs", "dedup", "shared_prefix_pairs"),
    ("family:simhash_sigs", "dedup", "shared_simhash"),
    ("family:sign_bits", "similarity", "shared_bits"),
    ("family:brute_topk", "similarity", "sim_bruteforce_topk"),
)
#: family builds with no oracle of their own: their output is checked
#: through the member entries run after them, so it is not fetched
UNCHECKED_BUILDS = frozenset(f[0] for f in FAMILIES if f[0] != "family:brute_topk")
FAMILY_MODULES = ("analytics", "dedup", "similarity", "text")
#: registry entries run after an operator_families round, each from a
#: different module
ENTRIES = 2
#: entries whose DuckDB oracle alone takes 3 s to well over 8 s at sf0.1 on
#: 4 cores, more than a whole run may spend on checking; they are left out
#: of the sample (tests/test_oracle.py still checks them at sf0.001)
SLOW_ORACLE = frozenset({
    "dedup_clusters", "dedup_keep_best", "dedup_lsh_recall_report", "dedup_simhash",
    "dedup_simhash_pairs", "graph_kcore_peel", "name_edit_distance_pairs", "orders_skyline",
})


def pin_environment() -> dict:
    """Pin the ambient state a run depends on, before Spark starts, and
    return it for the run's record."""
    for k in [k for k in os.environ if k.startswith("SKINNER_") or k == "SPARK_GRAFT_MASTER"]:
        del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # local mode: the driver JVM is the executor; leave most of the host
    # to the Python workers, DuckDB and the page cache
    mem_gb = max(1, min(8, int(phys * 0.4 / 2**30)))
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    pinned = {
        # learned orders neither read from nor written to
        # spark-warehouse/joinorder_cache.json
        "SKINNER_ORDER_CACHE_PERSIST": "0",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    return {"cpus": cpus, "host_mem_gb": round(phys / 2**30, 1), **pinned}


def spark_conf() -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }


# -- inputs -------------------------------------------------------------------


def corpus_by_template() -> dict[str, list[str]]:
    """queries_sql/ file names grouped by template (t1 .. t18)."""
    out: dict[str, list[str]] = {}
    for f in sorted(os.listdir(CORPUS)):
        if f.endswith(".sql"):
            out.setdefault(f.split("_")[0], []).append(f)
    return dict(sorted(out.items(), key=lambda kv: int(kv[0][1:])))


def join_round(rng: random.Random, templates: dict[str, list[str]]) -> list[str]:
    """Every template's first instance, in random order. A random instance
    per template would add 7-11% of spread across seeds on its own (the
    instances of one template differ up to 3x), and the 18-query round
    cannot average that out, so only the order is drawn."""
    picks = [files[0] for files in templates.values()]
    rng.shuffle(picks)
    return picks


def operator_pool(specs) -> dict[str, list[str]]:
    """Bench-flagged registry entries with an oracle, by operator module."""
    pool: dict[str, list[str]] = {m: [] for m in FAMILY_MODULES}
    for name, spec in sorted(specs.items()):
        package, module = spec.spark.__module__.rsplit(".", 1)
        if (
            package == "skinnerdb_spark.operators"
            and module in pool
            and spec.bench
            and spec.oracle is not None
            and name not in SLOW_ORACLE
        ):
            pool[module].append(name)
    return pool


def entry_sample(rng: random.Random, pool: dict[str, list[str]]) -> list[str]:
    """ENTRIES registry entries, one from each of as many random modules."""
    return [rng.choice(pool[m]) for m in rng.sample(FAMILY_MODULES, ENTRIES)]


def read_query(name: str) -> str:
    with open(os.path.join(CORPUS, name)) as f:
        return f.read()


# -- set-up -------------------------------------------------------------------


def install_orders(sf_dir: str) -> tuple[int, str]:
    """Load the committed learned orders through the public
    ``load_order_cache``, with their scan paths pointed at ``sf_dir``.
    Returns (entries loaded, digest of the committed file)."""
    from skinnerdb_spark.plans.graph import load_order_cache

    with open(ORDERS) as f:
        text = f.read()
    digest = hashlib.sha256(text.encode()).hexdigest()[:16]
    scope = "file:" + os.path.abspath(sf_dir).rstrip("/")
    path = os.path.join(WORK, "orders.resolved.json")
    with open(path, "w") as f:
        f.write(text.replace(SF_TOKEN, scope))
    return load_order_cache(path), digest


def setup_once(sf_dir: str) -> tuple[object, dict]:
    """Session start, catalog registration, order install and a first scan:
    what a client waits for before its first query."""
    from skinnerdb_spark.catalog import register_views
    from skinnerdb_spark.plans.metrics import run_and_count
    from skinnerdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf())
    t1 = time.perf_counter()
    register_views(spark, sf_dir)
    t2 = time.perf_counter()
    loaded, digest = install_orders(sf_dir)
    t3 = time.perf_counter()
    run_and_count(spark.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag"))
    t4 = time.perf_counter()
    return spark, {
        "session": t1 - t0,
        "register": t2 - t1,
        "learn": t3 - t2,
        "scan": t4 - t3,
        "total": t4 - t0,
        "orders_loaded": loaded,
        "orders_digest": digest,
    }


def setup(sf_dir: str) -> tuple[object, list[dict]]:
    """Set up SETUPS times, stopping the session in between (the JVM stays,
    so only the first pays its launch)."""
    records = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, rec = setup_once(sf_dir)
        records.append(rec)
    return spark, records


def calibration_s(spark) -> float:
    """Pinned constant-work host-speed probe, the same work as bench.py's
    calibration_sec: 16M synthetic rows through md5, a hash shuffle and an
    aggregate, best of two."""
    from pyspark.sql import functions as F

    from skinnerdb_spark.plans.metrics import run_and_count

    def one() -> float:
        t0 = time.perf_counter()
        run_and_count(
            spark.range(0, 16_000_000, 1, 64)
            .select(
                (F.col("id") % 9973).alias("k"),
                F.expr(
                    "CAST(conv(substring(md5(CAST(CAST(id AS STRING)"
                    " AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
                ).alias("h"),
            )
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        return time.perf_counter() - t0

    return min(one(), one())


# -- the measured loop ----------------------------------------------------------


def error_text(exc: BaseException) -> str:
    first = (str(exc).splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:200]}"


class Run:
    """One workload's closed loop and what it recorded."""

    def __init__(self, workload: str, spark, sf_dir: str, tracer, seed: int):
        from skinnerdb_spark.engine import Engine
        from skinnerdb_spark.registry import all_specs

        self.workload = workload
        self.spark = spark
        self.sf_dir = sf_dir
        self.tr = tracer
        self.rng = random.Random(seed)
        self.eng = Engine(spark)
        self.specs = all_specs()
        self.templates = corpus_by_template()
        self.pool = operator_pool(self.specs)
        #: one record per query sent: name, seconds, error, result
        self.queries: list[dict] = []
        #: operator_families: registry entries run after the loop, untimed
        self.entries: list[dict] = []
        #: traced runs: (query, learned order exec s, Catalyst order exec s)
        self.receipts: list[tuple[str, float, float]] = []
        #: traced join_serve runs: seconds to learn and run each query
        self.learn_s: list[float] = []

    def next_round(self) -> list[str]:
        if self.workload == "operator_families":
            return [label for label, _, _ in FAMILIES]
        return join_round(self.rng, self.templates)

    def learn(self, text: str):
        """The learning path: no learned order, episodes run now."""
        from skinnerdb_spark.plans import graph

        with self.tr.span("sql.parse_analyze"):
            df = self.spark.sql(text)
        return graph.adaptive_reorder(df, use_cache=False, **ADAPTIVE_KW)

    def build(self, name: str):
        """The workload's call for one query: returns (DataFrame, order)."""
        tr = self.tr
        if self.workload == "join_learn":
            res = self.learn(read_query(name))
            return res.df, res.best_order
        if self.workload == "join_serve":
            # self time of this span is the spark.sql inside adaptive_sql
            with tr.span("sql.parse_analyze"):
                df = self.eng.adaptive_sql(read_query(name), **ADAPTIVE_KW)
            return df, self.eng.last_adaptive.best_order
        if name.startswith("family:"):
            _, module, fn = next(f for f in FAMILIES if f[0] == name)
            builder = getattr(importlib.import_module(f"skinnerdb_spark.operators.{module}"), fn)
            with tr.span("families.build"):
                return builder(self.spark, self.sf_dir), ()
        with tr.span("operators.build"):
            return self.specs[name].spark(self.spark, self.sf_dir), ()

    def send(self, name: str, root: str = "query") -> dict:
        """Time one query from request to its last row counted."""
        from skinnerdb_spark.plans.metrics import run_and_count

        rec = {"name": name, "error": None, "df": None, "order": ()}
        t0 = time.perf_counter()
        try:
            with self.tr.span(root, q=name):
                df, rec["order"] = self.build(name)
                with self.tr.span("exec") as ex:
                    run_and_count(df)
            rec["df"] = df
        except Exception as exc:  # a failed query is counted, never fatal
            rec["error"] = error_text(exc)
            traceback.print_exc(file=sys.stderr)
        rec["seconds"] = time.perf_counter() - t0
        if self.tr.enabled and rec["df"] is not None:
            rec["exec_s"] = ex[END] - ex[START]
        return rec

    def collect(self, rec: dict) -> None:
        """Fetch a timed query's rows for the DuckDB check. The executed
        plan is reused, so only its final stage runs again."""
        if rec["df"] is not None and rec["name"] not in UNCHECKED_BUILDS:
            try:
                rec["rows"] = rec["df"].toPandas()
            except Exception as exc:
                rec["error"] = "collect " + error_text(exc)
        rec["df"] = None

    def receipts_for(self, rec: dict) -> None:
        """Traced runs only, for a join query with a learned order: run
        Catalyst's own order and, on join_serve for every second such
        query, the learning path (learning them all would take a traced
        run near the 180 s a run may last on a busy host), each under its
        own root span so the workload's layers stay apart."""
        from skinnerdb_spark.plans.metrics import run_and_count

        text = read_query(rec["name"])
        with self.tr.span("receipt.default"):
            df = self.spark.sql(text)
            with self.tr.span("exec") as ex:
                run_and_count(df)
        self.receipts.append((rec["name"], rec["exec_s"], ex[END] - ex[START]))
        if self.workload == "join_serve" and len(self.receipts) % 2:
            with self.tr.span("receipt.learn") as root:
                res = self.learn(text)
                with self.tr.span("exec"):
                    run_and_count(res.df)
            self.learn_s.append(root[END] - root[START])


def warm_up(run: Run) -> float:
    """Join workloads: pay the JVM's first-use costs of the join path with
    one query before the loop. operator_families does not warm up: its
    builds run in a fixed order, so the first-use costs (and the Python
    worker start-up) land on the same builds in every run."""
    from skinnerdb_spark.plans.metrics import run_and_count

    t0 = time.perf_counter()
    if run.workload != "operator_families":
        run_and_count(run.build(WARM_QUERY)[0])
    return time.perf_counter() - t0


def measure(run: Run, seconds: float) -> float:
    """Send whole rounds: at least one, then more while another round of
    the same length still fits in ``seconds`` of query time."""
    from skinnerdb_spark.plans.metrics import plan_metrics

    tr = run.tr
    busy = last = 0.0
    while busy == 0.0 or busy + last <= seconds:
        start = busy
        for name in run.next_round():
            cursor = spans.stage_cursor(run.spark) if tr.enabled else 0
            rec = run.send(name)
            run.queries.append(rec)
            busy += rec["seconds"]
            if tr.enabled and rec["df"] is not None:
                rec["task_ms"] = spans.task_ms_since(run.spark, cursor)
                m = plan_metrics(rec["df"])
                rec["shuffle_write_bytes"] = m["shuffle_write_bytes"]
                rec["spill_bytes"] = m["spill_bytes"]
                tr.record_phases(rec["df"])
                if rec["order"]:
                    run.receipts_for(rec)
            run.collect(rec)
        last = busy - start
    return busy


def run_entries(run: Run) -> None:
    """operator_families, after the loop: a seeded sample of registry
    entries from the families' modules, run on the memo the builds filled
    and checked against DuckDB. They witness the builds' output, which has
    no oracle of its own; their times are reported, not gated."""
    if run.workload != "operator_families":
        return
    for name in entry_sample(run.rng, run.pool):
        rec = run.send(name, root="receipt.entry")
        run.entries.append(rec)
        run.collect(rec)


def check(run: Run) -> list[dict]:
    """Compare every fetched result with DuckDB; a mismatch becomes the
    query's error. Returns the failures by query name."""
    from check import Oracle, compare

    oracle = Oracle(run.sf_dir)
    try:
        for rec in run.queries + run.entries:
            if rec["error"] or "rows" not in rec:
                continue  # failed, or a family build (UNCHECKED_BUILDS)
            name = rec["name"]
            if run.workload != "operator_families":
                sql = read_query(name)
            elif name == "family:brute_topk":
                sql = run.specs["sim_bruteforce_topk"].oracle
            else:
                sql = run.specs[name].oracle
            try:
                why = compare(rec.pop("rows"), oracle.expected(sql))
            except Exception as exc:
                why = "oracle " + error_text(exc)
            rec["checked"] = True
            if why:
                rec["error"] = f"wrong result: {why}"
    finally:
        oracle.close()
    return [{"query": r["name"], "error": r["error"]}
            for r in run.queries + run.entries if r["error"]]


# -- metrics ------------------------------------------------------------------


def percentile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: every order
    statistic, weighted by the Beta(q(n+1), (1-q)(n+1)) mass over its rank
    interval (q = p/100). With the 13-18 latencies of a round, one or two
    order statistics (the linear-interpolation percentile) jump whenever
    two queries swap ranks; measured over ten seeds, the weighted estimate
    spread 20-30% less."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    q = p / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 200 * n  # midpoint rule over (0, 1)
    weights = [0.0] * n
    for j in range(steps):
        x = (j + 0.5) / steps
        weights[int(x * n)] += math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    return sum(w * v for w, v in zip(weights, xs)) / sum(weights)


def end_to_end(run: Run, setups: list[dict]) -> dict:
    """Metric -> (value, unit). Latency counts every timed query, failed or
    not; success_rate is 1 - error_rate: queries that failed or returned a
    wrong result, over every query sent, the untimed entries included."""
    lat = [r["seconds"] for r in run.queries]
    sent = run.queries + run.entries
    ok = sum(1 for r in sent if not r["error"])
    return {
        "setup_s": (statistics.median(s["total"] for s in setups), "s"),
        "query_p50_s": (percentile(lat, 50), "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "queries_per_s": (len(lat) / sum(lat), "1/s"),
        "success_rate": (ok / len(sent), "frac"),
    }


def per_layer(run: Run, setups: list[dict], extra: dict) -> dict:
    """Metric -> (value, unit), from the traced run."""
    tr = run.tr
    done = [r for r in run.queries if "task_ms" in r]
    n = max(len(done), 1)
    wall = sum(r["seconds"] for r in done)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    learn_root = "receipt.learn" if run.workload == "join_serve" else "query"

    def mean_ms(name: str, root: str = "query") -> float:
        found = tr.select(name, root)
        return 1000.0 * sum(s[END] - s[START] for s in found) / len(found) if found else 0.0

    def reorders(root: str) -> list[dict]:
        return [s[ATTRS] for s in tr.select("graph.episode", root) if "eligible" in s[ATTRS]]

    served, learned = reorders("query"), reorders(learn_root)
    eligible = sum(a["eligible"] for a in served)
    self_q, self_l = tr.self_times("query"), tr.self_times(learn_root)
    phases = tr.phases["query"]
    learn_s = run.learn_s or [r["seconds"] for r in done if r["order"]]
    med = lambda key: statistics.median(s[key] for s in setups)  # noqa: E731
    return {
        "session.start_s": (setups[0]["session"], "s"),
        "session.restart_s": (med("session"), "s"),
        "catalog.register_s": (med("register"), "s"),
        "setup.learn_s": (med("learn"), "s"),
        "setup.warm_s": (extra["warm_s"], "s"),
        "session.jvm_rss_peak_mb": (extra["jvm_rss_peak_mb"], "MiB"),
        "catalyst.analysis_ms": (sum(phases["analysis"]) / n, "ms"),
        "catalyst.optimize_ms": (sum(phases["optimization"]) / n, "ms"),
        "catalyst.planning_ms": (sum(phases["planning"]) / n, "ms"),
        "graph.extract_ms": (mean_ms("graph.extract"), "ms"),
        "graph.rebuild_ms": (1000.0 * self_q.get("graph.rebuild", 0.0) / max(eligible, 1), "ms"),
        "graph.cache_hits": (extra["counters"]["cache_hits"], "count"),
        "graph.eligible_frac": (eligible / len(served) if served else 0.0, "frac"),
        "graph.episode_ms": (
            1000.0 * self_l.get("graph.episode", 0.0) / max(len(learned), 1), "ms"),
        "graph.episodes": (sum(a["episodes"] for a in learned), "count"),
        "graph.learn_query_p50_s": (statistics.median(learn_s) if learn_s else 0.0, "s"),
        "graph.learned_not_slower_frac": (
            sum(lrn <= dflt for _, lrn, dflt in run.receipts) / max(len(run.receipts), 1),
            "frac"),
        "joinorder.timeouts": (sum(a["timeouts"] for a in learned), "count"),
        "joinorder.prefix_hits": (sum(a["prefix_hits"] for a in learned), "count"),
        "exec.wall_ms": (mean_ms("exec"), "ms"),
        "exec.task_ms": (sum(r["task_ms"] for r in done) / n, "ms"),
        "exec.parallel_eff": (
            sum(r["task_ms"] for r in done) / (1000.0 * wall * cores) if wall else 0.0, "frac"),
        "exec.shuffle_write_bytes": (sum(r["shuffle_write_bytes"] for r in done) / n, "B"),
        "exec.spill_bytes": (sum(r["spill_bytes"] for r in done) / n, "B"),
        "operators.build_ms": (mean_ms("operators.build", "receipt.entry"), "ms"),
        "families.build_s": (
            sum(r["seconds"] for r in done if r["name"].startswith("family:")), "s"),
        "memo.persisted_rdds": (extra["persisted_rdds"], "count"),
        "memo.storage_bytes": (extra["storage_bytes"], "B"),
        "host.calibration_s": (extra["calibration_s"][0], "s"),
        "host.calibration_post_s": (extra["calibration_s"][1], "s"),
    }


def layer_table(run: Run) -> dict:
    """Self time per layer over the timed queries, and the share of their
    wall time the spans account for."""
    self_s = run.tr.self_times("query")
    wall = sum(r["seconds"] for r in run.queries)
    return {
        "self_s": {k: round(v, 4) for k, v in sorted(self_s.items())},
        "query_wall_s": round(wall, 4),
        "accounted_frac": round(sum(self_s.values()) / wall, 4) if wall else 0.0,
    }


# -- main ---------------------------------------------------------------------


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    ambient = pin_environment()
    sys.path.insert(0, ROOT)
    try:
        import skinnerdb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not importable here: {exc}", file=sys.stderr)
        return 2
    from skinnerdb_spark.catalog import DEFAULT_SF_DIR
    from skinnerdb_spark.plans.graph import adaptive_counters

    from check import self_test

    sf_dir = DEFAULT_SF_DIR
    if not os.path.isdir(sf_dir) or not os.path.isdir(CORPUS) or not os.path.isfile(ORDERS):
        print(f"perfbench: missing warehouse {sf_dir}, queries_sql/ or orders.json",
              file=sys.stderr)
        return 2
    self_test()  # raises if the checker would miss a wrong result
    ambient["sf_dir"] = sf_dir
    ambient["adaptive_counters_at_start"] = adaptive_counters()

    clock = {"startup": time.perf_counter() - T_START}
    t = time.perf_counter()
    spark, setups = setup(sf_dir)
    clock["setups"] = time.perf_counter() - t
    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    try:
        t = time.perf_counter()
        run = Run(args.workload, spark, sf_dir, spans.NullTracer(), args.seed)
        extra: dict = {"warm_s": warm_up(run)}
        if args.trace:
            spans.install(tracer)
            run.tr = tracer
            extra["calibration_s"] = [calibration_s(spark)]
        counters0 = adaptive_counters()
        clock["prepare"] = time.perf_counter() - t
        t = time.perf_counter()
        busy = measure(run, args.seconds)
        clock["loop"] = time.perf_counter() - t
        run_entries(run)
        counters1 = adaptive_counters()
        extra["counters"] = {k: counters1[k] - counters0[k] for k in counters1}
        if args.trace:
            extra["persisted_rdds"], extra["storage_bytes"] = spans.storage(spark)
            extra["calibration_s"].append(calibration_s(spark))
            extra["jvm_rss_peak_mb"] = spans.jvm_rss_peak_mb(spark)
        t = time.perf_counter()
        failures = check(run)
        clock["check"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        stop(spark)
        clock["stop"] = time.perf_counter() - t

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ambient": ambient,
        "setups": [{k: round(v, 4) if isinstance(v, float) else v for k, v in s.items()}
                   for s in setups],
        "clock_s": {k: round(v, 3) for k, v in clock.items()},
        "busy_s": round(busy, 4),
        "adaptive_counters": extra["counters"],
        "served_orders_digest": hashlib.sha256(json.dumps(sorted(
            {r["name"]: list(r["order"]) for r in run.queries}.items())).encode()
        ).hexdigest()[:16],
        "latency_ms": [[r["name"], round(1000 * r["seconds"], 1)] for r in run.queries],
        "entries_ms": [[r["name"], round(1000 * r["seconds"], 1)] for r in run.entries],
        "failures": failures,
        "unchecked": sorted({r["name"] for r in run.queries if not r.get("checked")}),
    }
    if args.trace:
        detail["layers"] = layer_table(run)
        detail["traced_end_to_end"] = {k: v for k, (v, _) in end_to_end(run, setups).items()}
        detail["receipts"] = [[q, round(a, 4), round(b, 4)] for q, a, b in run.receipts]
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        metrics = per_layer(run, setups, extra)
    else:
        metrics = end_to_end(run, setups)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(run.queries) + len(run.entries),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
