"""``analyst_mix``: a fixed pass over registered queries, closed loop with
one client, each query forced with a ``noop`` write.

The mix has a scan/join half, whose time is reading and joining rows, and a
coordination half, whose queries launch many small Spark jobs while they
build their DataFrame. A run makes one pass per 16 of its seconds. Rows
are checked once per run against the registry's DuckDB oracle SQL.
"""

from __future__ import annotations

import time

import gen
from common import force, geomean, quantile

SCAN_JOIN = (
    "pricing_summary",
    "join_shipping_priority",
    "sessionize_events",
    "events_per_user_day",
    "text_tfidf_topk",
)
COORDINATION = (
    "dedup_minhash_lsh_pairs",
    "text_bpe_train_merges",
)
MIX = SCAN_JOIN + COORDINATION
SCALE = 0.01
PASS_S = 16  # nominal seconds per pass: --seconds / PASS_S passes per run


class AnalystMix:
    name = "analyst_mix"
    loop = "closed"

    def prepare(self, ctx) -> None:
        self.tables = ctx.path("tables", "")
        gen.write_tables(ctx.seed, self.tables, SCALE)

    def _pass(self, ctx, tag: str) -> tuple[dict, dict, dict]:
        """One pass: per-query seconds, DataFrames and (query, build,
        execute) spans."""
        from distributed_video_analytics_flink_spark import operators as ops

        tr, led = ctx.tracer, ctx.ledger
        times, frames, spans = {}, {}, {}
        for q in MIX:
            t0 = time.time()
            with tr.span(f"operators.{q}", "operators") as sp:
                if led is not None:
                    led.set_group(f"{tag}:{q}:build")
                with tr.span(f"operators.{q}.build", "operators") as b:
                    df = ops.QUERIES[q].fn(ctx.spark, self.tables)
                if led is not None:
                    led.set_group(f"{tag}:{q}:execute")
                with tr.span(f"operators.{q}.execute", "operators") as x:
                    force(df)
            times[q] = time.time() - t0
            frames[q] = df
            spans[q] = (sp, b, x)
        return times, frames, spans

    def _harvest(self, ctx, tag, q, sp, b, x) -> None:
        led, m = ctx.ledger, ctx.layer
        build = led.harvest(ctx.tracer, b, led.job_ids(f"{tag}:{q}:build"))
        execute = led.harvest(ctx.tracer, x, led.job_ids(f"{tag}:{q}:execute"))
        m[f"operators.{q}.s"] = sp.duration
        m[f"operators.{q}.jobs"] = build["jobs"] + execute["jobs"]
        m["operators.build_s"] = m.get("operators.build_s", 0) + b.duration
        m["operators.execute_s"] = m.get("operators.execute_s", 0) + x.duration
        m["operators.build_jobs"] = m.get("operators.build_jobs", 0) + build["jobs"]
        m["operators.execute_jobs"] = m.get("operators.execute_jobs", 0) + execute["jobs"]
        for k in ("stages", "tasks", "executor_cpu_s", "executor_run_s", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"operators.{k}"] = m.get(f"operators.{k}", 0) + build[k] + execute[k]

    def warmup(self, ctx) -> None:
        self._pass(ctx, "warmup")

    def measure(self, ctx, sampler) -> dict:
        passes = []
        for _ in range(max(1, round(ctx.seconds / PASS_S))):
            times, self.frames, spans = self._pass(ctx, f"pass{len(passes)}")
            if ctx.traced and not passes:  # the ledger covers the first pass
                for q in MIX:
                    self._harvest(ctx, "pass0", q, *spans[q])
            passes.append(times)
        self.passes = len(passes)
        mix = [sum(p.values()) for p in passes]
        per_query = [t for p in passes for t in p.values()]
        e2e = {
            "work_per_s": len(MIX) / quantile(mix, 0.5),
            "latency_p50_s": quantile(per_query, 0.5),
            "latency_p90_s": quantile(per_query, 0.9),
            "named": {
                "mix_s": quantile(mix, 0.5),
                "query_geomean_s": geomean(
                    [quantile([p[q] for p in passes], 0.5) for q in MIX]
                ),
                "passes": len(passes),
                "queries": len(MIX),
            },
        }
        if ctx.traced:
            self._load_tables(ctx)
        return e2e

    def _load_tables(self, ctx) -> None:
        """load_table alone, once per table, each in its own job group."""
        from distributed_video_analytics_flink_spark.schemas import TESTDATA_TABLES
        from distributed_video_analytics_flink_spark.sources.tables import load_table

        tr, led = ctx.tracer, ctx.ledger
        secs, jobs = [], []
        for t in TESTDATA_TABLES:
            led.set_group(f"load:{t}")
            with tr.span("sources.load_table", "sources") as sp:
                load_table(ctx.spark, self.tables, t)
            jobs.append(led.harvest(tr, sp, led.job_ids(f"load:{t}"))["jobs"])
            secs.append(sp.duration)
        ctx.layer["sources.tables.load_table_s"] = sum(secs) / len(secs)
        ctx.layer["sources.tables.load_table_jobs"] = sum(jobs) / len(jobs)

    def check(self, ctx) -> tuple[int, int]:
        """The last pass's rows per query against the DuckDB oracle, with
        the test suite's order-insensitive fingerprint; a mismatch counts
        against every pass of that query."""
        from distributed_video_analytics_flink_spark import operators as ops

        from tests.oracle_harness import compare, duck_connection

        con = duck_connection(self.tables)
        try:
            failed = sum(
                self.passes
                for q in MIX
                if not compare(self.frames[q], con, ops.QUERIES[q].oracle)["hash_match"]
            )
        finally:
            con.close()
        return len(MIX) * self.passes, failed
