"""Adaptive join ordering primitives — the reference's headline feature,
Spark-first.

SkinnerDB picks join orders at run time with UCT Monte-Carlo tree search over
budgeted episodes, no cost model (src/joining/uct/UctNode.java:208-282,
episode loop src/joining/JoinProcessor.java:109-152, cartesian-avoid heuristic
src/query/QueryInfo.java:655-668). That mechanism is an artifact of
single-node tuple-at-a-time execution: Spark cannot pause a distributed join
mid-flight, so we reproduce the *spirit* — no prior cost model, learn from
execution — at the granularity Spark supports:

1. candidate space: left-deep, connected join orders (same cartesian-avoid
   rule as the reference) plus selectivity-greedy seeds;
2. observation: budgeted sampled executions of a candidate's join chain (the
   analogue of a budgeted episode), with partial-join reuse across episodes;
3. policy: UCB1 bandit over candidate orders, rewards = negative log elapsed
   time of the sampled episode (the reference's epsilon-greedy/UCB1 policies,
   src/config/JoinConfig.java:28-34);
4. execution: winning order emitted as a plain DataFrame join chain, which
   Catalyst/AQE then executes (broadcast/shuffle selection stays adaptive at
   stage granularity).

This module holds the primitives only. The one episode loop and the one
chain builder live in plans/graph.py (``adaptive_reorder`` learns an order,
``build_graph_chain`` + ``finish`` apply it), which extracts the join graph
from any analyzed plan. The default engine path remains pure Catalyst;
adaptivity is opt-in and must always produce identical results, only (maybe)
faster plans.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class JoinEdge:
    """Equi-join predicate left.col == right.col between two named tables."""

    left_table: str
    left_col: str
    right_table: str
    right_col: str

    def touches(self, table: str) -> bool:
        return table in (self.left_table, self.right_table)

    def other(self, table: str) -> str:
        return self.right_table if table == self.left_table else self.left_table


def connected_orders(
    tables: list[str], edges: list[JoinEdge], max_orders: int = 64
) -> list[tuple[str, ...]]:
    """Enumerate left-deep join orders that never form a cartesian product —
    the reference's `query.connected` pruning (QueryInfo.java:655-668).
    Bounded DFS; at most ``max_orders`` orders returned."""
    orders: list[tuple[str, ...]] = []

    def joinable(prefix: tuple[str, ...], nxt: str) -> bool:
        return any(e.touches(nxt) and e.other(nxt) in prefix for e in edges)

    def dfs(prefix: tuple[str, ...]) -> None:
        if len(orders) >= max_orders:
            return
        if len(prefix) == len(tables):
            orders.append(prefix)
            return
        for t in tables:
            if t not in prefix and (not prefix or joinable(prefix, t)):
                dfs(prefix + (t,))

    dfs(())
    return orders


def is_connected_order(
    order: tuple[str, ...], tables: list[str], edges: list[JoinEdge]
) -> bool:
    """True iff ``order`` covers every table and never forms a cartesian
    product — validity check for orders that arrive from outside the
    enumeration (cache/transfer tiers)."""
    if sorted(order) != sorted(tables):
        return False
    for i, t in enumerate(order[1:], 1):
        prefix = order[:i]
        if not any(e.touches(t) and e.other(t) in prefix for e in edges):
            return False
    return True


def greedy_orders(
    tables: list[str],
    edges: list[JoinEdge],
    sizes: dict[str, int],
    starts: int = 4,
) -> list[tuple[str, ...]]:
    """Selectivity-seeded left-deep candidates: start from each of the
    ``starts`` smallest leaves (optimizer size estimates, post-pushdown),
    then repeatedly append the smallest CONNECTED unjoined table — the
    classic greedy heuristic (Selinger-style min-size expansion).

    Why this exists: ``connected_orders``'s bounded DFS enumerates in table
    order and its ``max_orders`` cap can exhaust on permutations that all
    open with the same (large) tables — for an 8-way join graph, dim-first
    orders may not appear AT ALL among the first 12. Seeding the candidate
    list with greedy orders guarantees the bandit always has a
    small-leading, filter-early arm to play against whatever the DFS
    produced; learning at a 36M-row warehouse then starts from sane
    incumbents instead of noise (found via the cardinality-matched JOB
    replay — the DFS-only arm set learned fact-first orders that ran 40x
    behind the greedy ones at scale 100)."""
    out: list[tuple[str, ...]] = []
    for s in sorted(tables, key=lambda t: (sizes.get(t, 0), t))[:starts]:
        order = [s]
        rest = set(tables) - {s}
        while rest:
            nxts = [
                t
                for t in rest
                if any(e.touches(t) and e.other(t) in order for e in edges)
            ]
            if not nxts:
                break
            nxt = min(nxts, key=lambda t: (sizes.get(t, 0), t))
            order.append(nxt)
            rest.remove(nxt)
        if not rest:
            o = tuple(order)
            if o not in out:
                out.append(o)
    return out


class UCB1:
    """UCB1 bandit over a fixed arm set (reference: UctNode UCB1 policy,
    src/joining/uct/UctNode.java:239-262)."""

    def __init__(self, n_arms: int, exploration: float = math.sqrt(2.0)):
        self.n = [0] * n_arms
        self.mean = [0.0] * n_arms
        self.c = exploration
        self.t = 0

    def select(self) -> int:
        self.t += 1
        for i, cnt in enumerate(self.n):
            if cnt == 0:  # play every arm once first
                return i
        return max(
            range(len(self.n)),
            key=lambda i: self.mean[i] + self.c * math.sqrt(math.log(self.t) / self.n[i]),
        )

    def update(self, arm: int, reward: float) -> None:
        self.n[arm] += 1
        self.mean[arm] += (reward - self.mean[arm]) / self.n[arm]

    def best(self) -> int:
        return max(range(len(self.n)), key=lambda i: (self.n[i], self.mean[i]))


class PrefixProgress:
    """The reference's ProgressTracker, Spark-first (SURVEY §2.3's last
    unported row — src/joining/progress/ProgressTracker.java:64-148,
    State.java:87-108): SkinnerDB stores per-join-order-prefix progress so
    a later episode whose order shares a prefix with an earlier one never
    redoes the shared work. Spark cannot resume a join mid-tuple, but the
    unit of progress it CAN share is a materialized join result, keyed by
    the SET of bound tables (inner joins commute, so a set key shares
    strictly more than the reference's order-prefix key). MEASURED design
    point (PERFORMANCE.md r7): persisting every mid-chain prefix is a NET
    LOSS — each persist() inserts an InMemoryRelation boundary that forces
    full materialization of every intermediate, defeating Spark's
    pipelined join execution (79 s vs 34 s over 10 episodes of a 15-way
    chain). Only the TERMINAL frame of each episode is persisted: a repeat
    episode's chain collapses onto the cached full-set frame at its last
    extension and costs ~nothing, while first plays keep their fully
    pipelined single-pass plans. Exploration-only, like the reference: the
    winning order's full execution is always a fresh unpersisted plan."""

    def __init__(self) -> None:
        self._frames: dict[frozenset[str], DataFrame] = {}
        self.hits = 0
        #: while True, get() misses on purpose (puts still record): the
        #: FIRST play of each bandit arm is timed cold so wall-clock
        #: rewards stay comparable across arms — resuming another arm's
        #: blocks would make later-played arms look artificially fast.
        #: Repeat plays flip this off and resume (the ProgressTracker win).
        self.record_only = False

    def get(self, bound: frozenset[str]) -> DataFrame | None:
        if self.record_only:
            return None
        df = self._frames.get(bound)
        if df is not None:
            self.hits += 1
        return df

    def put(self, bound: frozenset[str], df: DataFrame,
            terminal: bool = True) -> DataFrame:
        if not terminal:
            # mid-chain persistence measured as a net loss (see class doc)
            return df
        if bound in self._frames:
            # only reachable in record_only mode (a lookup would have hit
            # first otherwise): another arm already recorded this set —
            # keep its blocks, don't persist a duplicate (which would also
            # leak the old frame on overwrite)
            return df
        from pyspark import StorageLevel

        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._frames[bound] = cached
        return cached

    def clear(self) -> None:
        """Unpersist everything (episodes are over; the winner runs fresh)."""
        for df in self._frames.values():
            df.unpersist()
        self._frames.clear()


@dataclass
class EpisodeStats:
    order: tuple[str, ...]
    seconds: float
    rows: int  # -1 when the episode hit its budget and was cancelled
    reward: float
    timed_out: bool = False


#: reward multiplier on elapsed time for a cancelled episode: a budget hit
#: must score clearly worse than any order that finished AT the budget.
_TIMEOUT_PENALTY = 4.0


def budgeted_count(df: DataFrame, budget_s: float | None = None) -> tuple[int | None, float]:
    """``df.count()`` under a WALL-CLOCK budget — the Spark-idiom analogue
    of the reference's per-episode step budget (OldJoin.executeWithBudget
    runs <= 500 tuple steps per episode, src/joining/JoinProcessor.java:109-152
    + src/config/JoinConfig.java:22): Spark joins cannot pause mid-stage, so
    the budget is enforced by running the episode's jobs in their own
    thread under a unique job group and CANCELLING the group on timeout.

    Returns (rows, elapsed); rows is None when cancelled. ``budget_s=None``
    counts unbudgeted. The final (winning) execution is never budgeted —
    only exploration episodes are, exactly like the reference."""
    if budget_s is None:
        t0 = time.monotonic()
        n = df.count()
        return n, time.monotonic() - t0
    import threading
    import uuid

    sc = df.sparkSession.sparkContext
    group = f"skinner-episode-{uuid.uuid4().hex[:8]}"
    out: dict = {}

    def run() -> None:
        # job group is per-thread (pinned-thread mode maps this Python
        # thread to its own JVM thread), so only THIS episode is cancelled
        sc.setJobGroup(group, "skinnerdb budgeted episode", interruptOnCancel=True)
        try:
            out["n"] = df.count()
        except Exception as e:  # cancellation surfaces as a SparkException
            out["err"] = e

    # InheritableThread (vs a bare Thread): in py4j pinned-thread mode every
    # Python thread pins a JVM thread; pyspark's InheritableThread carries
    # the parent's local properties over AND cleans the pinned JVM thread up
    # on exit, so repeated budgeted episodes don't leak JVM threads /
    # local-property state (ADVICE r6).
    from pyspark import InheritableThread

    th = InheritableThread(target=run, daemon=True)
    t0 = time.monotonic()
    th.start()
    th.join(budget_s)
    if th.is_alive():
        sc.cancelJobGroup(group)
        th.join(30)
        if th.is_alive():
            # cancellation did not land: the episode's jobs are still
            # executing concurrently with whatever runs next — surface it
            # loudly instead of silently racing (ADVICE r6)
            import logging

            logging.getLogger(__name__).warning(
                "budgeted episode %s still running 30 s after cancelJobGroup; "
                "its jobs may overlap subsequent episodes", group
            )
        return None, time.monotonic() - t0
    if "err" in out:
        return None, time.monotonic() - t0
    return out["n"], time.monotonic() - t0


@dataclass
class AdaptiveJoinResult:
    df: DataFrame
    best_order: tuple[str, ...]
    episodes: list[EpisodeStats] = field(default_factory=list)
    #: partial-join results resumed from a prior episode's persisted blocks
    #: (the ProgressTracker analogue, see PrefixProgress)
    prefix_hits: int = 0

