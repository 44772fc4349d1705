"""gates_stage_heavy: operator gates whose builds launch many eager jobs.

One run executes every gate in ``GATES`` once, in order. Each gate is
timed in two parts: the build (the gate function, which runs its eager
checkpoints and probes) and the final plan, consumed by a ``noop``
write so that no projected column is pruned away. Between gates, outside
the timed parts, every cross-gate memo and persisted block is released,
so each timed gate pays its full cost; a memo hit during a timed run
fails that run.
"""

from __future__ import annotations

import hashlib
import os
import time

import gatedata
import probes

# q5_region_revenue is a single compute plan with no eager build work: a
# stage-budget change to the operators should leave it unchanged.
GATES = [
    "q5_region_revenue",
    "op_basket_association_rules",
    "op_graph_pagerank",
]


def _registry() -> tuple[dict, dict]:
    from apitap_spark.operators import ORACLES as OP_ORACLES
    from apitap_spark.operators import QUERIES as OP_QUERIES
    from apitap_spark.plans import ORACLES as REL_ORACLES
    from apitap_spark.plans import QUERIES as REL_QUERIES

    return {**REL_QUERIES, **OP_QUERIES}, {**REL_ORACLES, **OP_ORACLES}


def reset_memos(spark) -> None:
    from apitap_spark.operators.bpe import clear_bpe_memo
    from apitap_spark.operators.dedup import clear_dedup_frame_caches
    from apitap_spark.operators.graph import clear_graph_frame_caches
    from apitap_spark.operators.similarity import clear_ann_frame_caches
    from apitap_spark.session import release_persisted

    clear_graph_frame_caches()
    clear_dedup_frame_caches()
    clear_ann_frame_caches()
    clear_bpe_memo()
    spark.catalog.clearCache()
    release_persisted(spark)


def fingerprint(rows) -> str:
    """Order-insensitive digest of a result."""
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class GatesWorkload:
    name = "gates_stage_heavy"
    # One untimed pass after the cold one: the second pass is still ~10%
    # slower than later ones, and the timed window holds only two passes.
    warmup_runs = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.tables = os.path.join(work, "tables")
        self.queries, self.oracles = _registry()
        self.expected: dict[str, str] = {}
        self.last: dict[str, dict] = {}
        self.rows = 0

    def start_services(self) -> None:
        gatedata.write(self.seed, self.tables)

    def stop_services(self) -> None:
        pass

    def context(self) -> dict:
        return {"gates": GATES}

    def prepare_run(self) -> None:
        pass

    def run_once(self, spark, store=None, group: str = "") -> tuple[float, float]:
        """Run every gate once; returns the timed seconds and the process
        tree's CPU seconds within them (build + final plan of each gate,
        without the memo resets and result collects between gates)."""
        from apitap_spark.session import MEMO_COUNTERS

        pid = os.getpid()
        timed = cpu = 0.0
        self.last = {}
        self.hits = 0
        for gate in GATES:
            reset_memos(spark)
            hits0, builds0 = MEMO_COUNTERS["hits"], MEMO_COUNTERS["builds"]
            if store:
                store.set_group(f"{group}:{gate}:build")
            c0 = probes.tree_cpu_s(pid)
            t0 = time.perf_counter()
            df = self.queries[gate](spark, self.tables)
            t1 = time.perf_counter()
            if store:
                store.set_group(f"{group}:{gate}:run")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cpu += probes.tree_cpu_s(pid) - c0
            if store:
                store.clear_group()
            timed += t2 - t0
            self.hits += MEMO_COUNTERS["hits"] - hits0
            self.last[gate] = {
                # collected now: the next gate's reset frees this one's blocks
                "result": (df.columns, [tuple(r) for r in df.collect()]),
                "build_s": t1 - t0,
                "run_s": t2 - t1,
                "memo_builds": MEMO_COUNTERS["builds"] - builds0,
            }
        return timed, cpu

    def verify_against_oracles(self) -> list[str]:
        """Compare the last run of each gate with its DuckDB oracle, once per
        invocation; later runs must reproduce the same fingerprints."""
        from tests.oracle_harness import compare, duck_connection

        con = duck_connection(self.tables)
        problems = []
        self.rows = 0
        try:
            for gate, rec in self.last.items():
                columns, rows = rec["result"]
                cur = con.execute(self.oracles[gate])
                oracle = (cur.fetchall(), [d[0] for d in cur.description])
                res = compare(gate, _Collected(columns, rows), oracle)
                if not res.ok or not rows:
                    problems.append(f"{gate}: {res.issues or ['empty result']}")
                self.expected[gate] = fingerprint(rows)
                self.rows += len(rows)
        finally:
            con.close()
        return problems

    def check(self) -> bool:
        if self.hits:
            return False  # a memo hit means a cache read was timed
        return all(
            fingerprint(rec["result"][1]) == self.expected.get(g) for g, rec in self.last.items()
        )
