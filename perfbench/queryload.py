"""The two query workloads: relational_batch and curation_batch.

Each is a closed loop with one client running a fixed list of declared
queries in a fixed order (one pass); see README.md for why each list
looks the way it does.
"""

from __future__ import annotations

import itertools
import time

import datagen
import harness
from harness import OpResult

#: execution-bound read-only relational families, one query each
RELATIONAL = [
    "agg_groupby", "join_inner", "sql_order_priority", "window_rank",
    "set_intersect", "filter_exists_semi", "sort_limit_topk", "project_columns",
    "cast_types", "array_aggregate", "json_extract_int", "funnel_conversion",
    "flagship_revenue_by_region", "sample_stratified", "secure_masked_view",
    "scan_projection",
]

#: queries that run Spark jobs while they are built: the transactional
#: dedup store, the session-shared MinHash sketch, bounded availableNow
#: stream replays through the micro-batch engine; and a Python worker
#: query
CURATION = [
    "dedup_store_time_travel", "dedup_minhash_components", "udf_arrow_vector_norm",
    "stream_session_window", "stream_dedup_watermark",
]

#: workload -> (ops, warm-up parts, tables its ops read)
WORKLOADS = {
    "relational_batch": (RELATIONAL, ("scans",), datagen.TABLES),
    "curation_batch": (CURATION, ("scans", "udf_pool", "streaming"), ("documents", "embeddings", "events")),
}


class QueryRunner:
    """Runs one declared query as one op (build, plan, exec)."""

    def __init__(self, spark, data_dir: str, ops, tracer, events, rewarm) -> None:
        from multiomix_aws_emr_spark.queries import QUERIES

        self.queries = QUERIES
        self.spark = spark
        self.sc = spark.sparkContext
        self.base_dir = data_dir
        self.data_dir = data_dir
        self.ops = ops
        self.rewarm = rewarm
        self.tracer = tracer
        self.events = events
        self._ids = itertools.count(1)

    def _group(self, name: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(name, name)

    def run_pass(self, k: int) -> list[OpResult]:
        """One pass over the ops, then its engine and stream counters.
        Pass 0 reads the inputs the set-up warmed; each later pass reads
        its own hard-linked copy, whose table scans are warmed first, so
        every pass starts from the same cache state."""
        if k > 0:
            self.data_dir = datagen.link_inputs(self.base_dir, f"{self.base_dir}-pass{k}")
            self.rewarm(self.data_dir)
        results = harness.run_ops(self.ops, self)
        self.account(results)
        return results

    def __call__(self, qid: str) -> OpResult:
        n = next(self._ids)
        fn = self.queries[qid]
        run_ids = self.events.begin()
        tracer = self.tracer
        t0 = time.time()
        with tracer.span("op", op=n, qid=qid):
            self._group(f"op{n}-build")
            with tracer.span("build") as build_span:
                df = fn(self.spark, self.data_dir)
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            self._group(f"op{n}-exec")
            with tracer.span("exec"):
                rows = df.collect()
        t1 = time.time()
        self._group("idle")
        self.events.drain(run_ids)
        res = OpResult(qid, t0, t1, rows=rows, width=len(df.columns), df=df,
                       run_ids=list(run_ids))
        res.layer["op"] = n
        res.layer["build_span"] = build_span
        return res

    def account(self, results: list[OpResult]) -> None:
        """Engine and stream counters of a finished pass; a counter that
        cannot be read marks its op failed."""
        from multiomix_aws_emr_spark.plans.observe import executed_metrics

        for r in results:
            if r.error:
                continue
            try:
                batches = self.events.batches(r.run_ids)
                stream = harness.stream_phases(r, batches, self.tracer, r.layer.pop("build_span"))
                plan = r.df._jdf.queryExecution().executedPlan()
                r.input_rows = harness.scan_rows(plan) + stream["input_rows"]
                if self.tracer.enabled:
                    m = executed_metrics(r.df)
                    n = r.layer["op"]
                    build = harness.jobs_summary(self.sc, f"op{n}-build")
                    exe = harness.jobs_summary(self.sc, f"op{n}-exec")
                    r.layer.update(
                        jobs_build=build["jobs"],
                        jobs_exec=exe["jobs"],
                        stages=build["stages"] + exe["stages"],
                        tasks=build["tasks"] + exe["tasks"],
                        failed_tasks=build["failed_tasks"] + exe["failed_tasks"],
                        shuffle_write_bytes=sum(v for k, v in m.items() if "shuffle bytes written" in k),
                        spill_bytes=sum(v for k, v in m.items() if "spill size" in k),
                        stream=stream if r.run_ids else None,
                    )
            except Exception as exc:  # noqa: BLE001 - recorded as a failed op
                r.error = f"accounting: {type(exc).__name__}: {exc}"[:300]
            r.df = None

    def check(self, results: list[OpResult], oracle) -> None:
        """Compare each op's rows with its DuckDB oracle."""
        import check
        from multiomix_aws_emr_spark.queries import ORACLES

        for r in results:
            if not r.error:
                try:
                    expected, width = oracle.expected(r.name, ORACLES[r.name])
                    why = check.compare(r.rows, r.width, expected, width)
                except Exception as exc:  # noqa: BLE001 - an oracle failure fails the op
                    why = f"oracle: {type(exc).__name__}: {exc}"
                if why:
                    r.error = f"wrong result: {why}"[:300]
            r.rows = None


def layer_metrics(passes, tracer) -> dict:
    """Per-layer numbers of a traced query run, per pass."""
    from spans import self_times

    ops = [r for p in passes for r in p]
    n = len(passes)
    st = self_times(tracer.spans)
    by_op: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if s.op is not None and s.name in ("build", "plan", "exec"):
            by_op.setdefault(s.op, {})[s.name] = s.duration
    out = {
        "queries.build_s": sum(d.get("build", 0) for d in by_op.values()) / n,
        "engine.plan_s": sum(d.get("plan", 0) for d in by_op.values()) / n,
        "engine.exec_s": sum(d.get("exec", 0) for d in by_op.values()) / n,
        "queries.jobs_build": sum(r.layer.get("jobs_build", 0) for r in ops) / n,
        "queries.eager_ops": sum(1 for r in ops if r.layer.get("jobs_build", 0) > 0) / n,
    }
    for key in ("jobs_exec", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes"):
        out[f"engine.{key}"] = sum(r.layer.get(key, 0) for r in ops) / n
    streams = [r.layer["stream"] for r in ops if r.layer.get("stream")]
    phase_names = {
        "addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
        "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
        "latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
    }
    for key in ("batches", "input_rows", "trigger_ms", "state_commit_ms", "outside_batch_s"):
        out[f"streaming.{key}"] = sum(s[key] for s in streams) / n
    for key, name in phase_names.items():
        out[f"streaming.{name}"] = sum(s[key] for s in streams) / n
    out["streaming.state_mem_bytes"] = max((s["state_mem_bytes"] for s in streams), default=0)
    op_spans = [s for s in tracer.spans if s.name == "op"]
    out["_op_self_s"] = sum(st[s.id] for s in op_spans) / n
    return out
