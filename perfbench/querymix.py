"""``query_mix`` (closed loop, one client): warm passes over a fixed list
of registered queries on generated fixture-shaped tables, each forced
with ``.count()``.  The warm-up pass collects every result and compares
it with the query's DuckDB oracle from ``registry.oracle_sql()`` through
``tools/check_oracle.compare``, the repo's own oracle check; every
timed execution's row count is checked against the oracle's.
"""

from __future__ import annotations

import sys
import time

from harness import ROOT, median

sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import compare  # noqa: E402  (the repo's own oracle comparison)

#: The read side: both CDC current-state readers, TPC-H scan-aggregate
#: and six-way join, distinct counting, sessionizing windows, an event
#: funnel, exact dedup, text scoring and span metrics.
MIX = (
    "cdc_current_state", "cdc_merge_upsert", "tpch_q1", "tpch_q5",
    "agg_count_distinct", "win_session_gaps", "events_funnel",
    "dedup_exact", "text_quality_score", "spans_red_metrics",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def oracle_results(sf_dir: str) -> dict:
    """DuckDB results of every mix query's oracle SQL."""
    import duckdb

    from go_otel_clickhouse_ingestor_spark import registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {n: con.execute(sql[n]).fetchdf() for n in MIX}
    finally:
        con.close()


class QueryMix:
    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.oracle = oracle_results(sf_dir)
        self.mismatched: list[str] = []

    def attach(self) -> None:
        from go_otel_clickhouse_ingestor_spark import registry

        reg = registry.load_all()
        self.fns = {n: reg[n].fn for n in MIX}

    def warm_pass(self, spark, tracer) -> int:
        """Collect every result once and compare with the oracle;
        returns the number of wrong results."""
        wrong = 0
        for n in MIX:
            with tracer.span(f"warmup.{n}"):
                pdf = self.fns[n](spark, self.sf_dir).toPandas()
            if compare(n, pdf, self.oracle[n]):
                wrong += 1
                self.mismatched.append(n)
        return wrong

    def timed_pass(self, spark, tracer) -> tuple[dict[str, float], int]:
        """One pass with ``.count()``; returns (seconds per query, wrong counts)."""
        times, wrong = {}, 0
        with tracer.span("query.pass"):
            for n in MIX:
                with tracer.span(f"query.{n}"):
                    t0 = time.perf_counter()
                    rows = self.fns[n](spark, self.sf_dir).count()
                    times[n] = time.perf_counter() - t0
                if rows != len(self.oracle[n]):
                    wrong += 1
                    self.mismatched.append(n)
        return times, wrong


def run_mix(spark, mix: QueryMix, tracer, seconds: float) -> dict:
    """The measured loop: whole passes until ``seconds`` have passed."""
    passes, failed = [], 0
    t_end = time.perf_counter() + seconds
    # another pass only if at least half of it fits in the time left
    while not passes or time.perf_counter() + sum(passes[-1].values()) / 2 < t_end:
        times, wrong = mix.timed_pass(spark, tracer)
        passes.append(times)
        failed += wrong
    samples = [t for p in passes for t in p.values()]
    return {
        "query_mix_s": median([sum(p.values()) for p in passes]),
        "query_p50_s": median(samples),
        "samples": len(samples),
        "attempted": len(samples),
        "failed": failed,
        "passes": passes,
    }
