"""The benchmark's two workloads.  See README.md for why these two.

Both follow one protocol, driven by run.py:

* ``prepare(k)``   -- build the seeded inputs (repeated; median reported)
* ``warm()``       -- the cold first pass, counted in set-up, which also
                      runs the output checks that need a reference
* ``window(s)``    -- closed-loop operations until ``s`` seconds passed;
                      an operation started before the deadline finishes
* ``finish()``     -- untimed checks on what the window produced
* ``metrics(w)``   -- end-to-end values of a window
* ``trace(t)`` / ``layers(t, w)`` -- traced-run instrumentation

Every operation that raises, and every output that disagrees with its
check, is counted in ``failed`` (``error_rate = failed / attempted``).
"""

from __future__ import annotations

import json
import os
from contextlib import nullcontext
import time
import urllib.request

import sitegen
import stats
import tablegen


def _rel(errors: list, what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got!r}, want {want!r}")


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


class Ingest:
    """crawl -> extract -> incremental upsert, submitted through the job
    service.  One closed-loop client ``POST``s a crawl of the seeded site
    to ``/jobs``, polls ``GET /jobs/{id}`` every ``POLL_S`` until it is
    terminal, then re-crawls the job's page store with ``run_job`` at
    site version 1, where ``CHANGED`` of the pages carry new text."""

    #: per-layer metric families this workload never reaches (reported 0)
    BYPASSED = ("curate.", "q.", "plan.", "stream.")
    N_PAGES = 40  # root + 39 children: two fetch generations
    FANOUT = 39
    CHANGED = 0.1
    POLL_S = 0.25

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.sup = None
        self.ops: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- set-up ------------------------------------------------------------

    def prepare(self, k: int) -> None:
        self.site = sitegen.make_site(self.seed, self.N_PAGES, self.FANOUT, self.CHANGED)
        self.fetch0 = sitegen.SiteFetch(self.site, 0)
        self.fetch1 = sitegen.SiteFetch(self.site, 1)

    def warm(self) -> None:
        """Start the service (defaults: HTTP API + poll worker) and run one
        operation cold; its outputs are checked with the window's."""
        from data_integration_system_spark.pipeline.launcher import Supervisor

        self.jobs_path = f"{self.work}/jobs_log"
        self.out = f"{self.work}/stores"
        self.sup = Supervisor(self.spark, self.jobs_path, self.out, fetch_fn=self.fetch0)
        self.addr = self.sup.start()
        self.attempted += 1
        self.ops.append(self._run_op())

    def close(self) -> None:
        if self.sup is not None:
            self.sup.stop()
            self.sup = None

    # -- operations -------------------------------------------------------

    def _call(self, method: str, path: str, body=None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.addr + path, data=data, method=method,
            headers={"Content-Type": "application/json"},
        )
        t0 = time.perf_counter()
        with urllib.request.urlopen(req, timeout=120) as resp:
            out = json.loads(resp.read())
        return out, time.perf_counter() - t0

    def _run_op(self, tracer=None) -> dict:
        from data_integration_system_spark.pipeline import jobs

        op = {"gets": []}
        op["start"] = t0 = time.perf_counter()
        out, op["post_s"] = self._call("POST", "/jobs", {"url": self.site.url(0)})
        op["job_id"] = job_id = out["job_id"]
        if tracer is not None:
            tracer.op_of_job[job_id] = op_id = len(tracer.op_of_job) + 1
            tracer.set_op(op_id)
        while True:
            st, dt = self._call("GET", f"/jobs/{job_id}")
            op["gets"].append(dt)
            if st["status"] not in ("PENDING", "RUNNING"):
                break
            time.sleep(self.POLL_S)
        op["job_s"] = time.perf_counter() - t0
        op["status"] = st["status"]
        t1 = time.perf_counter()
        op["recrawl"] = jobs.run_job(
            self.spark, {"start_urls": [self.site.url(0)]},
            f"{self.out}/{job_id}", self.fetch1,
        )
        op["end"] = time.perf_counter()
        op["recrawl_s"] = op["end"] - t1
        return op

    def window(self, seconds: float, tracer=None) -> dict:
        ops: list[dict] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            self.attempted += 1
            try:
                ops.append(self._run_op(tracer))
            except Exception as e:  # noqa: BLE001 -- counted, run goes on
                self.failed += 1
                self.errors.append(f"ingest op: {e!r}"[:300])
        self.ops.extend(ops)
        end = max([o["end"] for o in ops], default=time.perf_counter())
        return {"ops": ops, "start": start, "end": end}

    # -- checks -----------------------------------------------------------

    def finish(self) -> None:
        from pyspark.sql import functions as F

        from data_integration_system_spark.pipeline.jobs import current_jobs
        from data_integration_system_spark.pipeline.snapshots import read_current

        n, site = self.N_PAGES, self.site
        k = len(site.changed)
        fresh = {r["job_id"]: r for r in self.sup.reports}
        for op in self.ops:
            errs: list[str] = []
            rep = fresh.get(op["job_id"], {})
            _rel(errs, "job status", op["status"], "DONE")
            _rel(errs, "fresh pages", rep.get("pages"), n)
            _rel(errs, "fresh files", rep.get("files"), site.n_files)
            _rel(errs, "fresh upserts", rep.get("upserts"),
                 {"INSERTED": n, "SKIPPED": 0, "UPSERTED": 0})
            re = op["recrawl"]
            _rel(errs, "recrawl status", (re["status"], re["error"]), ("DONE", ""))
            _rel(errs, "recrawl upserts", re["upserts"],
                 {"INSERTED": 0, "SKIPPED": n - k, "UPSERTED": k})
            store = read_current(self.spark, f"{self.out}/{op['job_id']}")
            _rel(errs, "store rows", store.count(), n)
            if errs:
                self.failed += 1
                self.errors.extend(f"{op['job_id']}: {e}" for e in errs)
        # the folded log shows every submitted job DONE, each transition once
        log = self.spark.read.parquet(self.jobs_path)
        per_job = {
            r["job_id"]: r["n"] for r in log.groupBy("job_id", "status")
            .agg(F.count("*").alias("n")).filter(F.col("n") != 1).collect()
        }
        states = {r["job_id"]: r["status"] for r in
                  current_jobs(self.spark, self.jobs_path).collect()}
        for op in self.ops:
            if states.get(op["job_id"]) != "DONE" or op["job_id"] in per_job:
                self.failed += 1
                self.errors.append(f"{op['job_id']}: log state "
                                   f"{states.get(op['job_id'])!r}")

    # -- metrics ----------------------------------------------------------

    def metrics(self, w: dict) -> tuple[dict, dict]:
        ops = [o for o in w["ops"] if o["status"] == "DONE"]
        if not ops:
            raise RuntimeError("no ingest operation completed in the window")
        n = self.N_PAGES
        elapsed = w["end"] - w["start"]
        pages = sum(o["recrawl"]["pages"] + n for o in ops)
        gets = [g for o in ops for g in o["gets"]]
        job_p50 = stats.median(o["job_s"] for o in ops)
        e2e = {
            "throughput_per_s": pages / elapsed,
            # a whole refresh: the job's latency alone carries the phase of
            # the worker's 1 s poll as noise, which the re-crawl dilutes
            "op_p50_s": stats.median(o["end"] - o["start"] for o in ops),
        }
        tail = stats.tail(gets)
        detail = {
            "ops": len(ops),
            "crawl_pages_per_s": n / job_p50,
            "recrawl_pages_per_s": n / stats.median(o["recrawl_s"] for o in ops),
            "jobs_per_min": 60 * len(ops) / elapsed,
            "job_latency_p50_s": job_p50,
            "status_latency_p50_ms": 1e3 * stats.median(gets),
            "status_latency_tail_ms": tail and (tail[0], 1e3 * tail[1]),
            "status_samples": len(gets),
            "cold_op_s": {k: self.ops[0][k] for k in ("job_s", "recrawl_s")},
            "op_s": [(o["job_s"], o["recrawl_s"]) for o in ops],
        }
        return e2e, detail

    # -- tracing ----------------------------------------------------------

    def trace(self, tracer) -> None:
        from data_integration_system_spark.pipeline import api, crawl, jobs, launcher

        def op_of_get(args, _kw):
            return tracer.op_of_job.get(args[1]) if len(args) > 1 else None

        def op_of_run_job(args, _kw):
            return tracer.op_of_job.get(os.path.basename(str(args[2])))

        tracer.wrap(api.JobApiServer, "_handle_post_jobs", "api.post")
        tracer.wrap(api.JobApiServer, "_handle_get_jobs", "api.get", op_of_get)
        tracer.wrap(launcher, "run_pending_jobs", "jobs.run_pending_jobs")
        tracer.wrap(jobs, "run_job", "jobs.run_job", op_of_run_job)
        tracer.wrap(jobs, "crawl", "crawl.crawl")
        tracer.wrap(crawl, "fetch_frontier", "crawl.generation")
        tracer.wrap(jobs, "ingest_files", "jobs.ingest_files")
        tracer.wrap(jobs, "classify_upsert", "writer.classify_upsert")
        tracer.wrap(jobs, "write_snapshot", "snapshots.write_snapshot")
        tracer.wrap(jobs, "_append_job_row", "jobs.log_append")
        sc = self.spark.sparkContext
        for f in (self.fetch0, self.fetch1):
            f.calls, f.busy_ms = sc.accumulator(0), sc.accumulator(0.0)
        self._bytes_before = _tree_bytes(self.out)

    def layers(self, tracer, w: dict) -> dict:
        from pyspark.sql import functions as F

        from data_integration_system_spark.pipeline.snapshots import read_current

        m: dict = {}
        gets = tracer.by_name("api.get")
        m["api.post_ms_p50"] = 1e3 * stats.median(tracer.durations("api.post"))
        m["api.get_ms_p50"] = 1e3 * stats.median(tracer.durations("api.get"))
        m["api.spark_jobs_per_get"] = len(tracer.jobs_of(gets)) / len(gets)
        ids = [o["job_id"] for o in w["ops"]]
        log = self.spark.read.parquet(self.jobs_path).filter(F.col("job_id").isin(ids))
        t = {(r["job_id"], r["status"]): r["created_at"] for r in log.collect()}
        m["jobs.queue_wait_s_p50"] = stats.median(
            (t[(j, "RUNNING")] - t[(j, "PENDING")]).total_seconds() for j in ids)
        m["jobs.run_s_p50"] = stats.median(
            (t[(j, "DONE")] - t[(j, "RUNNING")]).total_seconds() for j in ids)
        files = [f for _d, _s, fs in os.walk(self.jobs_path) for f in fs
                 if f.endswith(".parquet")]
        m["jobs.log_files"] = len(files)
        m["jobs.log_rows"] = self.spark.read.parquet(self.jobs_path).count()
        crawls, gens = tracer.by_name("crawl.crawl"), tracer.by_name("crawl.generation")
        m["crawl.generations"] = len(gens) / len(crawls)
        m["crawl.spark_jobs_per_generation"] = len(tracer.jobs_of(crawls)) / len(gens)
        calls = sum(f.calls.value for f in (self.fetch0, self.fetch1))
        useful = len(w["ops"]) * 2 * (self.N_PAGES + self.site.n_files)
        m["fetch.calls"] = calls
        m["fetch.calls_per_page"] = calls / useful
        m["fetch.busy_s"] = sum(f.busy_ms.value for f in (self.fetch0, self.fetch1)) / 1e3
        changed = sum(o["recrawl"]["upserts"]["UPSERTED"] + o["recrawl"]["upserts"]["INSERTED"]
                      for o in w["ops"])
        written = sum(read_current(self.spark, f"{self.out}/{j}").count() for j in ids)
        m["upsert.rows_written_per_changed_row"] = written / changed
        m["snapshots.bytes_written"] = _tree_bytes(self.out) - self._bytes_before
        m["snapshots.write_s"] = sum(tracer.durations("snapshots.write_snapshot"))
        return m


class Analytics:
    """The read-only query surface plus the curate -> release batch job,
    over seeded catalog tables at scale ``SF``.  One pass runs every
    query in ``MIX`` (consumed through the ``noop`` sink, so every
    output column is evaluated) and then ``release_corpus``."""

    BYPASSED = ("api.", "jobs.", "crawl.", "fetch.", "upsert.")
    SF = 0.01
    #: queries from six operator modules plus one stateful streaming
    #: snapshot; every one has a DuckDB oracle
    MIX = (
        "multiway_star_join",       # operators.joins
        "pricing_summary",          # operators.relational
        "session_windows",          # operators.windows
        "text_quality_score",       # operators.textops
        "dedup_exact",              # operators.dedup
        "token_count_bpe",          # operators.textops (tokenizer)
        "similarity_topk",          # operators.similarity
        "streaming_session_windows_snapshot",  # streaming (state store)
    )
    SPLITS = {"train": 9800, "val": 100, "test": 100}

    def __init__(self, spark, work: str, seed: int) -> None:
        from data_integration_system_spark.registry import get_oracle_sql, get_queries

        self.spark, self.work, self.seed = spark, work, seed
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.releases = 0
        self.fns, self.oracles = get_queries(), get_oracle_sql()

    def prepare(self, k: int) -> None:
        self.data = f"{self.work}/data{k}"
        self.counts = tablegen.generate(self.data, self.seed, self.SF)

    def close(self) -> None:
        pass

    # -- operations -------------------------------------------------------

    def _query(self, name: str):
        return self.fns[name](self.spark, self.data)

    def _release(self):
        from data_integration_system_spark.pipeline.curate import release_corpus

        self.releases += 1
        out = f"{self.work}/release{self.releases}"
        report = release_corpus(
            self.spark, self.data, f"{out}/corpus", export_path=f"{out}/export",
            split_weights=self.SPLITS,
        )
        return {r["stage"]: r["n_docs"] for r in report.collect()}, out

    def warm(self) -> None:
        """Cold pass: every query collected and compared with its DuckDB
        oracle (normalized like tests/oracle_harness.py), then one release
        checked against counts derived from the generated corpus.  Run
        sequentially: a pass whose cold queries overlapped was measured
        to leave the following warm passes slower and bimodal."""
        self.cold = {}
        for name in self.MIX:
            self.attempted += 1
            err = self._check_query(name)
            if err:
                self.failed += 1
                self.errors.append(err)
        self.attempted += 1
        t0 = time.perf_counter()
        self.report, out = self._release()
        self.cold["release"] = time.perf_counter() - t0
        self._check_release(self.report, out)

    def _check_query(self, name: str) -> str | None:
        import oracle_harness

        t0 = time.perf_counter()
        df = self._query(name)
        rows = df.collect()
        self.cold[name] = time.perf_counter() - t0
        got = oracle_harness._normalize([tuple(r) for r in rows], df.columns)
        con = oracle_harness.duck_connect(self.data)
        try:
            con.execute("SET threads TO 1")
            res = con.execute(self.oracles[name])
            want = oracle_harness._normalize(
                res.fetchall(), [d[0] for d in res.description])
        finally:
            con.close()
        if got != want:
            return f"{name}: {len(got)} rows differ from the oracle's {len(want)}"
        return None

    def _check_release(self, rep: dict, out: str) -> None:
        import pandas as pd

        from data_integration_system_spark.pipeline.snapshots import read_current

        errs: list[str] = []
        docs = pd.read_parquet(f"{self.data}/documents.parquet", columns=["text"])
        _rel(errs, "corpus", rep.get("corpus"), self.counts["documents"])
        _rel(errs, "exact_dedup", rep.get("exact_dedup"),
             docs["text"].map(lambda s: " ".join(s.split())).nunique())
        curated = rep.get("curated", -1)
        stages = ("quality", "exact_dedup", "near_dedup", "decontaminated")
        if not 0 < curated <= min(rep.get(s, -1) for s in stages):
            errs.append(f"curated {curated} not within every stage: {rep}")
        _rel(errs, "split total", sum(rep.get(f"split:{s}", 0) for s in self.SPLITS), curated)
        try:
            _rel(errs, "snapshot rows",
                 read_current(self.spark, f"{out}/corpus").count(), curated)
            _rel(errs, "export rows",
                 self.spark.read.json(f"{out}/export/v*").count(), curated)
        except Exception as e:  # noqa: BLE001 -- a missing output is a mismatch
            errs.append(f"release outputs unreadable: {e!r}"[:300])
        if rep.get("sequences", 0) < 1:
            errs.append(f"no packed sequences: {rep}")
        if errs:
            self.failed += 1
            self.errors.extend(f"release: {e}" for e in errs)

    def window(self, seconds: float, tracer=None) -> dict:
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            lat: dict = {}
            p0 = time.perf_counter()
            for name in (*self.MIX, "release"):
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"q.{name}") if tracer else nullcontext():
                        if name == "release":
                            rep, _out = self._release()
                            if rep != self.report:
                                raise AssertionError(f"release report {rep} != {self.report}")
                        else:
                            self._query(name).write.format("noop").mode("overwrite").save()
                    lat[name] = time.perf_counter() - t0
                except Exception as e:  # noqa: BLE001 -- counted, run goes on
                    self.failed += 1
                    self.errors.append(f"{name}: {e!r}"[:300])
            passes.append({"lat": lat, "s": time.perf_counter() - p0})
        return {"passes": passes, "start": start, "end": time.perf_counter()}

    def finish(self) -> None:
        pass

    def metrics(self, w: dict) -> tuple[dict, dict]:
        passes = w["passes"]
        lats = [v for p in passes for v in p["lat"].values()]
        queries = [v for p in passes for k, v in p["lat"].items() if k != "release"]
        releases = [p["lat"]["release"] for p in passes if "release" in p["lat"]]
        e2e = {
            "throughput_per_s": len(lats) / sum(p["s"] for p in passes),
            # the operation is a whole pass: single operations differ by up
            # to 40x, so a median over them lands on whichever ranks in the
            # middle and jumps between them from run to run
            "op_p50_s": stats.median(p["s"] for p in passes),
        }
        detail = {
            "passes": len(passes),
            "mix_pass_s": stats.median(p["s"] for p in passes),
            "query_p50_s": stats.median(queries),
            "release_docs_per_s": self.counts["documents"] / stats.median(releases),
            "cold_op_s": self.cold,
            "warm_op_s": [p["lat"] for p in passes],
        }
        return e2e, detail

    # -- tracing ----------------------------------------------------------

    def trace(self, tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from data_integration_system_spark.operators import textops
        from data_integration_system_spark.pipeline import curate

        import spans

        tracer.wrap(curate, "curate_corpus", "curate.curate_corpus")
        tracer.wrap(textops, "pack_relation", "curate.pack")
        tracer.wrap(DataFrameWriter, "json", "curate.export")
        tracer.wrap(curate, "write_snapshot", "snapshots.write_snapshot")
        self.listener = spans.stream_listener(self.spark)
        self._traced_from = self.releases + 1

    def layers(self, tracer, w: dict) -> dict:
        m: dict = {}
        n_rel = max(1, len(tracer.by_name("curate.curate_corpus")))
        m["curate.curate_corpus_s"] = sum(tracer.durations("curate.curate_corpus")) / n_rel
        m["curate.pack_s"] = sum(tracer.durations("curate.pack")) / n_rel
        m["curate.export_s"] = sum(tracer.durations("curate.export")) / n_rel
        m["snapshots.write_s"] = sum(tracer.durations("snapshots.write_snapshot"))
        m["snapshots.bytes_written"] = sum(
            _tree_bytes(f"{self.work}/release{i}")
            for i in range(self._traced_from, self.releases + 1))
        for name in self.MIX:
            m[f"q.{name}_s"] = stats.median(tracer.durations(f"q.{name}"))
        time.sleep(1.0)  # streaming progress events arrive asynchronously
        prog = list(self.listener.progress)
        runs = max(1, len(w["passes"]))
        m["stream.batches"] = len(prog) / runs
        m["stream.batch_ms_p50"] = stats.median(
            p.durationMs.get("triggerExecution", 0) for p in prog) if prog else 0.0
        m["stream.state_commit_ms"] = sum(
            s.commitTimeMs for p in prog for s in p.stateOperators) / runs
        m["stream.state_partitions"] = max(
            (s.numShufflePartitions for p in prog for s in p.stateOperators), default=0)
        # planning phases of one pass over the batch queries (untimed)
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for name in self.MIX:
            if name.startswith("streaming_"):
                continue
            qe = self._query(name)._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in phases:
                    phases[kv._1()] += kv._2().durationMs()
        for k, v in phases.items():
            m[f"plan.{k}_ms"] = v
        return m


WORKLOADS = {"ingest": Ingest, "analytics": Analytics}
