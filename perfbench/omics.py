"""omics_fs_jobs: BBHA experiments scheduled through the job service.

Two clients share one ``service.rest.JobServer`` backed by a
``LocalBackend`` whose runner calls ``experiment.run_experiment`` on the
benchmark's Spark session, so concurrent jobs share one SparkContext.
Each client POSTs a job and polls ``GET /job/<id>`` until the job is in
a terminal state (a closed loop). One pass is one job per client:
client 0 runs a cox job while client 1 runs a clustering job, so the
two models' different star costs overlap.

Every job's ``result.json`` is checked against a serial run of the same
experiment with the same seed, made after the timed passes.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import threading
import time
import urllib.request
from datetime import datetime

from harness import OpResult
from spans import median

MODELS = ("cox", "clustering")
EXPERIMENT = {"n-stars": 6, "bbha-iterations": 2, "cv-folds": 3, "random-state": 7}
POLL_S = 0.05
TERMINAL = ("COMPLETED", "FAILED", "CANCELLED")
#: result.json fields that must match the serial run (execution_time is
#: a timing and may differ)
RESULT_KEYS = ("features", "best_metric", "n_iterations", "best_metric_with_all_features")


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts).timestamp()


def _http(method: str, url: str, body: dict | None = None) -> tuple[int, dict]:
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method,
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, json.loads(resp.read() or b"{}")


class JobsWorkload:
    def __init__(self, spark, mol: str, clin: str, work_dir: str, tracer) -> None:
        self.spark = spark
        self.mol, self.clin = mol, clin
        self.work_dir = work_dir
        self.tracer = tracer
        self._ids = itertools.count(1)
        self._job_spans: dict[str, object] = {}
        self._runner_start: dict[str, float] = {}
        self.reference: dict[str, dict] = {}
        self.server = None
        self.input_rows = _data_rows(mol) + _data_rows(clin)

    def start_server(self) -> None:
        from multiomix_aws_emr_spark.service.jobs import JobService, LocalBackend
        from multiomix_aws_emr_spark.service.rest import JobServer

        self.server = JobServer(JobService(LocalBackend(self._runner))).start()

    def stop(self) -> None:
        if self.server is not None:
            self.server.stop()

    def _args(self, app: str, model: str, results_dir: str) -> argparse.Namespace:
        from multiomix_aws_emr_spark.experiment import build_arg_parser
        from multiomix_aws_emr_spark.service.jobs import marshal_entrypoint_args

        return build_arg_parser().parse_args(marshal_entrypoint_args(self._entry_args(app, model, results_dir)))

    def _entry_args(self, app: str, model: str, results_dir: str) -> list[dict]:
        args = {"app-name": app, "molecules-dataset": self.mol, "clinical-dataset": self.clin,
                "results-dir": results_dir, "model": model, **EXPERIMENT}
        return [{"name": k, "value": v} for k, v in args.items()]

    def _runner(self, spec: dict) -> None:
        """LocalBackend runner: rebuild the CLI namespace from the
        entrypoint arguments and run the experiment."""
        from multiomix_aws_emr_spark import experiment
        from multiomix_aws_emr_spark.service.jobs import marshal_entrypoint_args

        args = experiment.build_arg_parser().parse_args(
            marshal_entrypoint_args(spec["entrypoint_arguments"]))
        self._runner_start[args.app_name] = time.time()
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(args.app_name, args.app_name)
        with self.tracer.span("run_experiment", parent=self._job_spans.get(args.app_name)):
            experiment.run_experiment(self.spark, args)

    def _job(self, model: str) -> OpResult:
        k = next(self._ids)
        app = f"bench-{k}-{model}"
        results_dir = os.path.join(self.work_dir, app)
        body = {"name": app, "algorithm": "BBHA",
                "entrypoint_arguments": self._entry_args(app, model, results_dir)}
        t0 = time.time()
        with self.tracer.span("job", op=k, model=model) as job_span:
            self._job_spans[app] = job_span
            with self.tracer.span("schedule"):
                status, out = _http("POST", f"{self.server.address}/job", body)
            t_sched = time.time()
            if status != 201:
                raise RuntimeError(f"POST /job returned {status}: {out}")
            polls = 0
            while True:
                polls += 1
                _, rec = _http("GET", f"{self.server.address}/job/{out['id']}")
                if rec["state"] in TERMINAL:
                    break
                time.sleep(POLL_S)
        t1 = time.time()
        res = OpResult(app, t0, t1, input_rows=self.input_rows)
        if rec["state"] != "COMPLETED":
            res.error = f"job {rec['state']}: {rec['stateDetails']}"[:300]
            return res
        created, finished = _iso(rec["createdAt"]), _iso(rec["finishedAt"])
        res.layer.update(
            model=model, results_dir=results_dir,
            schedule_ms=1000 * (t_sched - t0), polls=polls, poll_lag_s=t1 - finished,
            queue_wait_s=self._runner_start[app] - created,
        )
        if self.tracer.enabled:
            self.tracer.add("queued", created, self._runner_start[app], job_span)
        return res

    def run_pass(self, k: int) -> list[OpResult]:
        """Both clients run their job; returns the results in completion
        order. A hung job is caught by the run's watchdog."""
        results: list[OpResult] = []
        lock = threading.Lock()

        def client(model):
            t0 = time.time()
            try:
                r = self._job(model)
            except Exception as exc:  # noqa: BLE001 - a failed job is a result
                r = OpResult(model, t0, time.time(), error=f"{type(exc).__name__}: {exc}"[:300])
            with lock:
                results.append(r)

        threads = [threading.Thread(target=client, args=(m,)) for m in MODELS]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(results, key=lambda r: r.end)

    def serial_reference(self) -> None:
        """Run each model's experiment once, serially and outside the
        service, for ``check`` to compare the scheduled jobs against."""
        from multiomix_aws_emr_spark.experiment import run_experiment

        for model in MODELS:
            ref_dir = os.path.join(self.work_dir, f"serial-{model}")
            run_experiment(self.spark, self._args(f"serial-{model}", model, ref_dir))
            self.reference[model] = _result(ref_dir)

    def check(self, results: list[OpResult]) -> None:
        """Compare each job's result.json with the serial run of the same
        model and seed."""
        for r in results:
            if r.error:
                continue
            try:
                got = _result(r.layer["results_dir"])
            except (OSError, ValueError) as exc:
                r.error = f"no result.json: {exc}"[:300]
                continue
            want = self.reference[r.layer["model"]]
            diff = [k for k in RESULT_KEYS if got.get(k) != want.get(k)]
            if diff:
                r.error = f"wrong result: {diff} differ from the serial run"[:300]

    def layer_metrics(self, results: list[OpResult]) -> dict:
        """Per-job medians of the traced layers."""
        import pyarrow.parquet as pq

        from spans import self_times

        spans = self.tracer.spans
        st = self_times(spans)
        children: dict[int, list] = {}
        for s in spans:
            children.setdefault(s.parent, []).append(s)
        ingest_fns = {"read_molecules_tsv", "long_to_wide", "clean_wide", "read_clinical_tsv", "toPandas"}
        per_job = []
        n_bins = self.spark.sparkContext.defaultParallelism
        sc = self.spark.sparkContext
        from harness import jobs_summary

        for job in (s for s in spans if s.name == "job"):
            runs = [c for c in children.get(job.id, []) if c.name == "run_experiment"]
            if not runs:
                continue
            run = runs[0]
            kids = children.get(run.id, [])
            ingest = sum(c.duration for c in kids if c.name in ingest_fns)
            bbha = sum(c.duration for c in kids if c.name == "run_bbha")
            res = next((r for r in results if r.name.startswith(f"bench-{job.op}-")), None)
            if res is None or res.error:
                continue
            hist = pq.read_table(os.path.join(res.layer["results_dir"], "metrics.parquet")).to_pandas()
            fitness_s = float(hist["exec_time"].sum())
            app = res.name
            jobs_all = jobs_summary(sc, app)
            jobs_bbha = jobs_summary(sc, f"{app}-bbha")
            iterations = EXPERIMENT["bbha-iterations"]
            per_job.append({
                "sources.ingest_s": ingest,
                "experiment.artifacts_s": run.duration - ingest - bbha,
                "fs.bbha_s": bbha,
                "fs.fitness_evals": len(hist),
                "fs.fitness_s": fitness_s,
                "fs.jobs_per_iteration": jobs_bbha["jobs"] / iterations,
                "fs.core_busy_ratio": fitness_s / (n_bins * bbha) if bbha else 0.0,
                "service.schedule_ms": res.layer["schedule_ms"],
                "service.poll_lag_s": res.layer["poll_lag_s"],
                "service.queue_wait_s": res.layer["queue_wait_s"],
                "service.polls_per_job": res.layer["polls"],
                "engine.jobs_exec": jobs_all["jobs"] + jobs_bbha["jobs"],
                "engine.stages": jobs_all["stages"] + jobs_bbha["stages"],
                "engine.tasks": jobs_all["tasks"] + jobs_bbha["tasks"],
                "engine.failed_tasks": jobs_all["failed_tasks"] + jobs_bbha["failed_tasks"],
                "_job_self_s": st[job.id],
            })
        keys = per_job[0].keys() if per_job else ()
        return {k: median(j[k] for j in per_job) for k in keys}

    def patch(self) -> list:
        """Wrap the layer functions a job calls so each call is a span;
        returns the undo list for ``unpatch``."""
        from multiomix_aws_emr_spark.fs import bbha
        from multiomix_aws_emr_spark.sources import survival

        tracer = self.tracer
        sc = self.spark.sparkContext
        undo = []

        def wrap(owner, name, group_suffix=None):
            orig = getattr(owner, name)

            def timed(*args, **kwargs):
                group = sc.getLocalProperty("spark.jobGroup.id")
                if group_suffix and group:
                    sc.setJobGroup(group + group_suffix, group + group_suffix)
                try:
                    with tracer.span(name):
                        return orig(*args, **kwargs)
                finally:
                    if group_suffix and group:
                        sc.setJobGroup(group, group)

            setattr(owner, name, timed)
            undo.append((owner, name, orig))

        for fn in ("read_molecules_tsv", "long_to_wide", "clean_wide", "read_clinical_tsv"):
            wrap(survival, fn)
        # the session's DataFrame class (pyspark.sql.classic in Spark 4)
        wrap(type(self.spark.range(1)), "toPandas")
        wrap(bbha, "run_bbha", group_suffix="-bbha")
        return undo


def unpatch(undo: list) -> None:
    for owner, name, orig in reversed(undo):
        setattr(owner, name, orig)


def _data_rows(path: str) -> int:
    with open(path) as fh:
        return sum(1 for _ in fh) - 1


def _result(results_dir: str) -> dict:
    with open(os.path.join(results_dir, "result.json")) as fh:
        return json.load(fh)
