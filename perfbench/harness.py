"""The three workloads, each driving one of the package's real jobs
through its public entry points.

A run: generate (or reuse) the seed's inputs; start the session and
run one untimed cold pass of the job (``setup_s``) and one untimed
warm-up pass; repeat the job for ``seconds``; check every output
against DuckDB outside the timed spans; report the end-to-end
metrics, or with tracing on the per-layer metrics derived from spans,
the event log and streaming progress.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import checks
import gen
import trace

# cdc_stream live phase: change files of gen.CDC_LIVE_FILE_ROWS rows
# arrive at this rate (500 rows/s), about half the seed code's catch-up
# throughput (~1,000 rows/s on 4 cores), so the writer keeps up without
# a growing backlog. 8 s of live phase give 32 files, so the tail
# percentile (see tail_rank) is rank 22 of 32, p68.75.
LIVE_RATE = 4.0
LIVE_GRACE_S = 10.0  # after the last due time, files still uncommitted fail
STREAM_TIMEOUT_S = 120

E2E = ("setup_s", "job_s", "catchup_rows_per_s")
E2E_UNITS = {"setup_s": "s", "job_s": "s", "catchup_rows_per_s": "1/s"}

# per-span exec sets: the parent span of every job and the layer spans
EXEC_SPANS = ("job", "elt.raw_events", "elt.raw_user_nation", "elt.curated_activity",
              "elt.tail", "stream.catchup", "corpus.curate", "corpus.near_dup")
PYTHON_SPANS = ("job", "corpus.curate", "corpus.near_dup")
_SPAN_UNITS = {"exec.jobs": "count", "exec.tasks": "count", "exec.run_s": "s",
               "exec.cpu_s": "s", "exec.gc_s": "s", "exec.cpu_util": "ratio",
               "exec.tasks_failed": "count"}
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.jvm_hwm_mb", "MB"),
    ("elt.raw_events.s", "s"), ("elt.raw_user_nation.s", "s"), ("elt.curated_activity.s", "s"),
    ("elt.dag_s", "s"), ("elt.level0_overlap", "ratio"), ("elt.tail_s", "s"),
    ("quality.report_s", "s"),
    ("stream.batches", "count"), ("stream.add_batch_s", "s"), ("stream.planning_s", "s"),
    ("stream.offsets_s", "s"), ("stream.wal_s", "s"), ("stream.outside_trigger_s", "s"),
    ("stream.store_bytes_written", "bytes"), ("stream.write_amp", "ratio"),
    ("stream.freshness_p50_s", "s"), ("stream.freshness_tail_s", "s"), ("gen.late_max_s", "s"),
    ("corpus.curate_s", "s"), ("corpus.near_dup_s", "s"), ("dedup.pairs_out", "count"),
    ("dedup.candidate_pairs", "count"), ("dedup.kept_ratio", "ratio"),
    ("trace.overhead_frac", "ratio"), ("trace.job_s", "s"), ("failed_frac", "ratio"),
    *[(f"{s}.{m}", _SPAN_UNITS.get(m, "bytes")) for s in EXEC_SPANS for m in trace.SPAN_METRICS],
    *[(f"{s}.python.rows_in", "count") for s in PYTHON_SPANS],
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail_rank(n: int) -> int:
    """1-based rank of the tail sample: the highest percentile with at
    least 10 samples beyond it is rank n-10 (p = (n-10)/n). With fewer
    than 11 samples no such percentile exists and the maximum is used."""
    return n - 10 if n > 10 else n


def tail(values: list[float]) -> float:
    s = sorted(values)
    return s[tail_rank(len(s)) - 1]


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """Operation accounting shared by the workloads: an operation that
    raises, times out, is left uncommitted or returns a wrong result
    counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.errors.append(why)
        log(f"FAILED x{n}: {why}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def timed_jobs(run: Run, seconds: float, job, what: str, before=None) -> tuple[list[float], list]:
    """Start ``job(i)`` until ``seconds`` have passed (closed loop);
    returns (wall per job, results). ``before()`` runs untimed ahead of
    each job. A job that raises counts as failed and yields no result."""
    walls, results = [], []
    end = time.time() + seconds
    while time.time() < end:
        if before is not None:
            before()
        run.attempted += 1
        t = time.time()
        try:
            results.append(job(len(walls)))
        except Exception as e:  # a failed job counts; the run goes on
            run.fail(1, f"{what} job {len(walls)} raised {type(e).__name__}: {e}")
        walls.append(time.time() - t)
    log(f"job walls {[round(w, 3) for w in walls]}")
    return walls, results


def batch_e2e(walls: list[float], rows: int) -> dict:
    job_s = statistics.median(walls)
    return {"job_s": job_s, "catchup_rows_per_s": rows / job_s}


def start_session(work: str, traced: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if traced:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from promptly_data_pipelines_spark.session import get_session

    n = ncpus()
    return get_session(app_name="perfbench", cpus=n, shuffle_partitions=n, extra_conf=conf)


# --------------------------------------------------------------------- ELT


class EltBatch:
    """``run_elt(spark, gen_dir, warehouse)`` into a fresh warehouse per
    job; every job's curated table is compared with the registry's
    ``elt_pipeline_run`` oracle and its DQ report must pass."""

    kind = "elt"

    def __init__(self, run: Run, spark, tracer: trace.Tracer, gen_dir: str, props: dict, rundir: str):
        self.run, self.spark, self.tracer = run, spark, tracer
        self.gen_dir, self.props, self.rundir = gen_dir, props, rundir
        self.results: list[dict] = []
        self.walls: list[float] = []
        self._tail = None
        if tracer.enabled:
            self._patch()

    def _patch(self) -> None:
        from promptly_data_pipelines_spark.pipelines import elt_job, orchestrator

        tracer, bench = self.tracer, self
        model, run, report = orchestrator.Pipeline.model, orchestrator.Pipeline.run, elt_job.write_report

        def traced_model(pipe, name, deps=None):
            register = model(pipe, name, deps)

            def deco(fn):
                def wrapped(s, up):
                    with tracer.span(f"elt.{name}"):
                        return fn(s, up)

                register(wrapped)
                return fn

            return deco

        def traced_run(pipe, spark, parallel=False):
            with tracer.span("elt.dag"):
                out = run(pipe, spark, parallel)
            bench._tail = tracer.begin("elt.tail")  # ends when run_elt returns
            return out

        def traced_report(*a, **kw):
            with tracer.span("quality.report"):
                return report(*a, **kw)

        orchestrator.Pipeline.model = traced_model
        orchestrator.Pipeline.run = traced_run
        elt_job.write_report = traced_report

    def job(self, warehouse: str) -> dict:
        from promptly_data_pipelines_spark.pipelines.elt_job import run_elt

        with self.tracer.span("job"):
            res = run_elt(self.spark, self.gen_dir, warehouse)
            self.tracer.end(self._tail)
            self._tail = None
        return res

    def cold_pass(self, i: int) -> None:
        self.job(os.path.join(self.rundir, f"wh-cold-{i}"))

    def measure(self, seconds: float) -> None:
        self.walls, self.results = timed_jobs(
            self.run, seconds, lambda i: self.job(os.path.join(self.rundir, f"wh-{i}")), "elt")

    def check(self) -> None:
        from promptly_data_pipelines_spark.registry import local_only_oracles

        con = checks.connect(self.gen_dir, ("events", "customer", "nation"))
        expected = con.execute(local_only_oracles()["elt_pipeline_run"]).fetchdf()
        for i, res in enumerate(self.results):
            diff = checks.frames_equal(res["curated"].toPandas(), expected)
            if diff or not res["passed"]:
                self.run.fail(1, f"elt job {i}: report passed={res['passed']}, curated diff: {diff}")

    def e2e(self) -> dict:
        return batch_e2e(self.walls, self.props["rows"])

    def layers(self, out: dict, spans: dict) -> None:
        t = self.tracer
        for name in ("raw_events", "raw_user_nation", "curated_activity"):
            out[f"elt.{name}.s"] = _median_wall(t, f"elt.{name}")
        out["elt.dag_s"] = _median_wall(t, "elt.dag")
        out["elt.tail_s"] = _median_wall(t, "elt.tail")
        out["quality.report_s"] = _median_wall(t, "quality.report")
        overlaps = []
        for job in t.by_name("job"):
            lvl0 = [s for s in t.spans if s["name"] in ("elt.raw_events", "elt.raw_user_nation")
                    and s["end"] and _inside(s, job)]
            if len(lvl0) == 2:
                wall = max(s["end"] for s in lvl0) - min(s["start"] for s in lvl0)
                overlaps.append(sum(s["end"] - s["start"] for s in lvl0) / wall)
        out["elt.level0_overlap"] = statistics.median(overlaps) if overlaps else 0.0


# ------------------------------------------------------------------ corpus


class CorpusCuration:
    """``curate_corpus(table(documents))`` to a noop sink, then
    ``dedup_near_text(spark, gen_dir)`` counted. Each job observes a
    row checksum of both outputs, compared with the ``corpus_prep``
    and ``dedup_near_text`` oracles."""

    kind = "corpus"
    CURATED_COLS = ["lang", "doc_id", "n_words", "n_tokens", "start_token", "bin_id", "bin_offset"]
    PAIR_COLS = ["doc_a", "doc_b", "est_jaccard"]

    def __init__(self, run: Run, spark, tracer: trace.Tracer, gen_dir: str, props: dict, rundir: str):
        self.run, self.spark, self.tracer = run, spark, tracer
        self.gen_dir, self.props = gen_dir, props
        self.sums: list[tuple] = []
        self.walls: list[float] = []

    def job(self) -> tuple:
        from pyspark.sql import Observation

        from promptly_data_pipelines_spark.catalog import table
        from promptly_data_pipelines_spark.extensions.dedup import dedup_near_text
        from promptly_data_pipelines_spark.pipelines.corpus_prep import curate_corpus

        o1, o2 = Observation("curated"), Observation("pairs")
        with self.tracer.span("job"):
            with self.tracer.span("corpus.curate"):
                curated = curate_corpus(table(self.spark, self.gen_dir, "documents"))
                curated.observe(o1, *checks.spark_checksum_exprs(self.CURATED_COLS)) \
                    .write.format("noop").mode("overwrite").save()
            with self.tracer.span("corpus.near_dup"):
                pairs = dedup_near_text(self.spark, self.gen_dir)
                n_pairs = pairs.observe(o2, *checks.spark_checksum_exprs(self.PAIR_COLS)).count()
        c, p = o1.get, o2.get
        return (c["n"], c["crc"]), (p["n"], p["crc"]), n_pairs

    def cold_pass(self, i: int) -> None:
        self.job()

    def measure(self, seconds: float) -> None:
        # dedup_near_text persists its signatures until the plan is
        # garbage-collected: without clearing, a job would reuse the
        # previous job's MinHash output instead of computing it
        self.walls, self.sums = timed_jobs(
            self.run, seconds, lambda i: self.job(), "corpus", before=self.spark.catalog.clearCache)

    def expected(self) -> tuple:
        """(curated checksum, pairs checksum, pair count) of the oracles."""
        from promptly_data_pipelines_spark.registry import all_oracles, local_only_oracles

        con = checks.connect(self.gen_dir, ("documents",))
        curated = con.execute(local_only_oracles()["corpus_prep"]).fetchdf()
        pairs = con.execute(all_oracles()["dedup_near_text"]).fetchdf()
        self.props["curated_rows"], self.props["pairs"] = len(curated), len(pairs)
        return (checks.row_checksum(curated, self.CURATED_COLS),
                checks.row_checksum(pairs, self.PAIR_COLS), len(pairs))

    def check(self) -> None:
        exp = self.expected()
        for i, got in enumerate(self.sums):
            if got != exp:
                self.run.fail(1, f"corpus job {i}: checksums {got} vs oracle {exp}")

    def e2e(self) -> dict:
        return batch_e2e(self.walls, self.props["rows"])

    def layers(self, out: dict, spans: dict) -> None:
        out["corpus.curate_s"] = _median_wall(self.tracer, "corpus.curate")
        out["corpus.near_dup_s"] = _median_wall(self.tracer, "corpus.near_dup")
        if self.sums:
            out["dedup.pairs_out"] = self.sums[-1][2]
        cand = spans.get("corpus.near_dup", {}).get("est_filter_in", 0)
        kept = spans.get("corpus.near_dup", {}).get("est_filter_out", 0)
        out["dedup.candidate_pairs"] = cand
        out["dedup.kept_ratio"] = kept / cand if cand else 0.0


# --------------------------------------------------------------------- CDC


def _source_log(ckpt: str) -> dict[str, int]:
    """File-source log of a checkpoint: {file basename: batch id}."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if p.endswith(".crc") or os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_mtime(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime
    except FileNotFoundError:
        return None


class CdcStream:
    """``upsert_sink(live_rows(file stream), target, ckpt)``.

    Catch-up: the staged backlog drains one file per trigger (closed
    loop, the sink's own availableNow trigger), again and again into
    fresh targets for the timed ``seconds``. Live (traced runs only):
    a generator thread moves one change file into the source directory
    every 1/LIVE_RATE s (open loop) while the writer re-triggers
    continuously; a file's freshness runs from its due time to the
    mtime of the checkpoint commit of the batch that read it."""

    kind = "cdc"

    def __init__(self, run: Run, spark, tracer: trace.Tracer, gen_dir: str, props: dict, rundir: str):
        self.run, self.spark, self.tracer = run, spark, tracer
        self.gen_dir, self.props, self.rundir = gen_dir, props, rundir
        self.backlog = sorted(glob.glob(os.path.join(gen_dir, "backlog", "*.json")))
        self.live = sorted(glob.glob(os.path.join(gen_dir, "live", "*.json")))
        self.fresh: list[float] = []
        self.late: list[float] = []
        self.batch_walls: list[float] = []
        self.drains: list[str] = []  # run directory of each timed catch-up drain
        self.committed: list[str] = []  # change files in the last drain's target
        self.listener = None
        if tracer.enabled:
            self.listener = trace.progress_listener()
            spark.streams.addListener(self.listener)

    def _query(self, base: str, one_file_per_trigger: bool):
        from promptly_data_pipelines_spark.cdc.streaming import RAW_STREAM_SCHEMA, live_rows, upsert_sink

        reader = self.spark.readStream.schema(RAW_STREAM_SCHEMA)
        if one_file_per_trigger:
            reader = reader.option("maxFilesPerTrigger", "1")
        stream = live_rows(reader.json(os.path.join(base, "src")))
        return upsert_sink(stream, os.path.join(base, "tgt"), os.path.join(base, "ckpt"))

    @staticmethod
    def _stage(base: str, backlog: list[str]) -> None:
        src = os.path.join(base, "src")
        os.makedirs(src)
        now = time.time()
        for i, f in enumerate(backlog):  # oldest mtime first pins the batch order
            dst = os.path.join(src, os.path.basename(f))
            shutil.copyfile(f, dst)
            os.utime(dst, (now - 1000 + i, now - 1000 + i))

    def _drain(self, base: str, sid: int | None) -> list[float]:
        """Catch-up: returns each micro-batch's wall time, commit to
        commit (the first from the query start)."""
        ckpt = os.path.join(base, "ckpt")
        t0 = time.time()
        q = self._query(base, True).start()
        self.tracer.alias(str(q.runId), sid)
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"catch-up did not drain within {STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        commits = [_commit_mtime(ckpt, b) for b in range(max(_source_log(ckpt).values()) + 1)]
        walls = [b - a for a, b in zip([t0, *commits], commits)]
        log(f"catch-up batch walls {[round(s, 3) for s in walls]}")
        return walls

    def _generate(self, src: str, staged: list[str], due: list[float], stop: threading.Event) -> None:
        for f, d in zip(staged, due):
            if stop.wait(max(0.0, d - time.time())):
                return
            os.utime(f, (d, d))
            os.rename(f, os.path.join(src, os.path.basename(f)))
            self.late.append(time.time() - d)

    def _live(self, base: str, sid: int | None) -> None:
        """Live phase: records each live file's freshness; a file not
        committed by the deadline fails and counts beyond the tail."""
        ckpt = os.path.join(base, "ckpt")
        names = [os.path.basename(f) for f in self.live]
        staged = [os.path.join(base, "stage", n) for n in names]
        os.makedirs(os.path.join(base, "stage"))
        for f, dst in zip(self.live, staged):
            shutil.copyfile(f, dst)
        q = self._query(base, False).trigger(processingTime="0 seconds").start()
        self.tracer.alias(str(q.runId), sid)
        t0 = time.time() + 0.5
        due = [t0 + i / LIVE_RATE for i in range(len(names))]
        deadline = due[-1] + LIVE_GRACE_S
        stop = threading.Event()
        gen_thread = threading.Thread(
            target=self._generate, args=(os.path.join(base, "src"), staged, due, stop))
        gen_thread.start()
        try:
            while time.time() < deadline:
                time.sleep(0.1)
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                if not gen_thread.is_alive():
                    batches = _source_log(ckpt)
                    if all(n in batches and _commit_mtime(ckpt, batches[n]) for n in names):
                        break
        finally:
            stop.set()
            gen_thread.join()
            q.stop()
        batches = _source_log(ckpt)
        commits = [_commit_mtime(ckpt, batches[n]) if n in batches else None for n in names]
        log(f"live freshness {[round(c - d, 3) if c else None for c, d in zip(commits, due)]}")
        self.run.attempted += len(self.live)
        for f, d, c in zip(self.live, due, commits):
            if c is None:
                self.run.fail(1, f"live file {os.path.basename(f)} not committed by the deadline")
                self.fresh.append(deadline - d)
            else:
                self.fresh.append(c - d)
                self.committed.append(f)
        if self.late and max(self.late) > 1.0 / LIVE_RATE:
            self.run.fail(len(self.live), f"generator ran {max(self.late):.3f}s late: live phase void")

    def cold_pass(self, i: int) -> None:
        base = os.path.join(self.rundir, f"warm-{i}")
        self._stage(base, self.backlog)
        self._drain(base, None)

    def measure(self, seconds: float) -> None:
        """Catch-up drains, each into a fresh target, until ``seconds``
        have passed (closed loop); with tracing on, the live phase then
        runs on the last drain's target. One drain is only ~5 s, so a
        single one left job_s at the mercy of a few seconds of host
        noise; the live phase feeds only per-layer metrics."""
        with self.tracer.span("job"):
            with self.tracer.span("stream.catchup") as sid:
                end = time.time() + seconds
                while time.time() < end:
                    base = os.path.join(self.rundir, f"catchup-{len(self.drains)}")
                    self._stage(base, self.backlog)
                    self.drains.append(base)
                    self.run.attempted += len(self.backlog)
                    self.batch_walls += self._drain(base, sid)
            self.committed = list(self.backlog)
            if self.tracer.enabled:
                with self.tracer.span("stream.live") as sid:
                    self._live(self.drains[-1], sid)

    def check(self) -> None:
        from pyspark.sql import functions as F

        from promptly_data_pipelines_spark.cdc.streaming import read_upsert_target

        con = checks.connect(self.gen_dir, ())
        for base in self.drains:
            files = self.committed if base == self.drains[-1] else self.backlog
            got = read_upsert_target(self.spark, os.path.join(base, "tgt")).select(
                "event_id", F.unix_millis("ts").alias("ts_ms"), "user_id", "event_type", "value", "op"
            ).toPandas()
            diff = checks.frames_equal(got, checks.cdc_expected(con, files))
            if diff:
                self.run.fail(len(files), f"upsert target of {os.path.basename(base)} differs "
                                          f"from the change log: {diff}")

    def e2e(self) -> dict:
        # a streaming job is one micro-batch: the median over the
        # catch-up batches is robust to each drain's query start
        job_s = statistics.median(self.batch_walls)
        return {"job_s": job_s, "catchup_rows_per_s": gen.CDC_FILE_ROWS / job_s}

    def layers(self, out: dict, spans: dict) -> None:
        out["gen.late_max_s"] = max(self.late) if self.late else 0.0
        if self.fresh:
            out["stream.freshness_p50_s"] = statistics.median(self.fresh)
            out["stream.freshness_tail_s"] = tail(self.fresh)
        catch = spans.get("stream.catchup", {})
        live = spans.get("stream.live", {})
        prog = self._progress(catch.get("run_ids", set()) | live.get("run_ids", set()))
        data = [p for p in prog if p["rows"] > 0]
        d = lambda p, *ks: sum(p["duration_ms"].get(k, 0) for k in ks) / 1e3  # noqa: E731
        out["stream.batches"] = len(data)
        if data:
            out["stream.add_batch_s"] = statistics.median(d(p, "addBatch") for p in data)
            out["stream.planning_s"] = statistics.median(d(p, "queryPlanning") for p in data)
            out["stream.offsets_s"] = statistics.median(d(p, "latestOffset", "getBatch") for p in data)
            out["stream.wal_s"] = statistics.median(d(p, "walCommit", "commitOffsets") for p in data)
        in_catch = [p for p in prog if p["run_id"] in catch.get("run_ids", set())]
        out["stream.outside_trigger_s"] = sum(self.batch_walls) - sum(d(p, "triggerExecution") for p in in_catch)
        written = catch.get("io_write_bytes", 0) + live.get("io_write_bytes", 0)
        # every drain but the last applied the backlog alone
        change_bytes = (sum(os.path.getsize(f) for f in self.backlog) * (len(self.drains) - 1)
                        + sum(os.path.getsize(f) for f in self.committed))
        out["stream.store_bytes_written"] = written
        out["stream.write_amp"] = written / change_bytes if change_bytes else 0.0

    def _progress(self, run_ids: set) -> list[dict]:
        # progress events arrive asynchronously: wait for the last batch
        want = self.props["backlog_files"] * len(self.drains)
        for _ in range(50):
            got = [p for p in self.listener.progress if p["run_id"] in run_ids]
            if sum(1 for p in got if p["rows"] > 0) >= want:
                break
            time.sleep(0.1)
        return [p for p in self.listener.progress if p["run_id"] in run_ids]


WORKLOADS = {"elt_batch": EltBatch, "cdc_stream": CdcStream, "corpus_curation": CorpusCuration}


def _median_wall(tracer: trace.Tracer, name: str) -> float:
    walls = [s["end"] - s["start"] for s in tracer.by_name(name)]
    return statistics.median(walls) if walls else 0.0


def _inside(span: dict, outer: dict) -> bool:
    return outer["start"] <= span["start"] and span["end"] <= outer["end"]


# ------------------------------------------------------------------- run


def gen_inputs(workload: str, seed: int, seconds: int, cache: str) -> tuple[str, dict]:
    cls = WORKLOADS[workload]
    params = {"live_files": gen.cdc_live_files(seconds, LIVE_RATE)} if cls.kind == "cdc" else {}
    return gen.ensure(cache, cls.kind, seed, **params)


def run(workload: str, seed: int, seconds: int, traced: bool, work: str) -> dict:
    gen_dir, props = gen_inputs(workload, seed, seconds, os.path.join(work, "inputs"))
    log(f"inputs {gen_dir}: {json.dumps(props)}")
    baseline = _untraced_job_s(workload, seed, seconds, work) if traced else None
    rundir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    r = Run()
    t0 = time.time()
    spark = start_session(work, traced)
    t_session = time.time()
    tracer = trace.Tracer(spark, traced)
    w = WORKLOADS[workload](r, spark, tracer, gen_dir, props, rundir)
    tracer.enabled = False  # the cold pass is setup, not a traced job
    w.cold_pass(0)
    setup_s = time.time() - t0
    # one more untimed pass, outside setup_s: the first job after the
    # cold pass still ran ~25% slower than the ones after it (JIT still
    # settling), and with ~2 jobs per run that tail set the median
    w.cold_pass(1)
    tracer.enabled = traced
    log(f"setup {setup_s:.3f}s (session {t_session - t0:.3f}s), warm-up {time.time() - t0 - setup_s:.3f}s")
    try:
        w.measure(seconds)
    except Exception as e:  # a workload-level failure fails every operation
        r.attempted = max(r.attempted, 1)
        r.fail(r.attempted - r.failed, f"{workload} raised {type(e).__name__}: {e}")
    if r.failed < r.attempted:
        w.check()
    e2e = {"setup_s": setup_s, **w.e2e()} if r.failed < r.attempted else None
    if traced:
        metrics = _per_layer(w, spark, tracer, t0, t_session, setup_s, baseline, r, work, workload, seed)
    else:
        spark.stop()
    shutil.rmtree(rundir, ignore_errors=True)
    if not traced:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E} if e2e else {}
        if e2e:
            with open(os.path.join(work, f"untraced-{workload}.json"), "w") as f:
                json.dump({"seed": seed, "seconds": seconds, **e2e}, f)
    log(f"props {json.dumps(props)}; errors {r.errors}")
    return {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}


def _untraced_job_s(workload: str, seed: int, seconds: int, work: str) -> float:
    """job_s of the latest untraced run of this workload in this
    checkout; without one, an untraced run is made first (sequentially,
    so only one JVM is ever up)."""
    path = os.path.join(work, f"untraced-{workload}.json")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
        try:
            code = proc.wait(170)
        finally:
            if proc.poll() is None:  # SIGTERM: the child stops its own JVM first
                proc.terminate()
                proc.wait()
        if code:
            raise subprocess.CalledProcessError(code, cmd)
    with open(path) as f:
        return json.load(f)["job_s"]


def _jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _per_layer(w, spark, tracer, t0, t_session, setup_s, baseline, r, work, workload, seed) -> dict:
    hwm = _jvm_hwm_mb(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    exec_ids = [x.executionId() for x in conv.asJava(store.executionsList())]
    values = trace.sql_metrics(spark, exec_ids)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    elog = trace.parse_event_log(os.path.join(work, "eventlog", app_id))
    os.remove(os.path.join(work, "eventlog", app_id))
    totals = trace.attribute(tracer, elog["jobs"])
    n_jobs = max(1, len(tracer.by_name("job")))
    cores = ncpus()
    spans: dict[str, dict] = {}
    for s in tracer.spans:  # fold instances of a span name together
        if s["end"] is None:
            continue
        acc = spans.setdefault(s["name"], {"wall": 0.0, "jobs": 0, "run_ids": set(), "exec_ids": set(),
                                           **{f: 0 for f in trace.TASK_FIELDS}})
        acc["wall"] += s["end"] - s["start"]
        t = totals.get(s["id"])
        if t:
            acc["jobs"] += t["jobs"]
            acc["exec_ids"] |= t["exec_ids"]
            for f in trace.TASK_FIELDS:
                acc[f] += t[f]
    for group, sid in tracer.aliases.items():
        spans[tracer.spans[sid]["name"]]["run_ids"].add(group)
    for name, acc in spans.items():
        acc["cpu_util"] = acc["cpu_s"] / (acc["wall"] * cores) if acc["wall"] else 0.0
        acc["python_rows_in"] = sum(trace.python_rows_in(elog["plans"][e], values.get(e, {}))
                                    for e in acc["exec_ids"] if e in elog["plans"])
        if name == "corpus.near_dup":
            io = [trace.filter_rows(elog["plans"][e], values.get(e, {}), "est_jaccard")
                  for e in acc["exec_ids"] if e in elog["plans"]]
            acc["est_filter_in"] = sum(a for a, _ in io) / n_jobs
            acc["est_filter_out"] = sum(b for _, b in io) / n_jobs
    out = {name: 0.0 for name, _ in PER_LAYER}
    traced_job_s = w.e2e()["job_s"] if r.failed < r.attempted else 0.0
    out.update({
        "session.start_s": t_session - t0,
        "session.warmup_s": setup_s - (t_session - t0),
        "session.jvm_hwm_mb": hwm,
        "trace.job_s": traced_job_s,
        "trace.overhead_frac": traced_job_s / baseline - 1 if baseline else 0.0,
        "failed_frac": r.failed_frac,
    })
    for s in EXEC_SPANS:
        acc = spans.get(s)
        if acc is None:
            continue
        for metric, field in trace.SPAN_METRICS.items():
            # per job: counts and times scale with the jobs a run fits in
            v = acc[field]
            out[f"{s}.{metric}"] = v if field == "cpu_util" else v / n_jobs
    for s in PYTHON_SPANS:
        if s in spans:
            out[f"{s}.python.rows_in"] = spans[s]["python_rows_in"] / n_jobs
    w.layers(out, spans)
    record = {
        "workload": workload, "seed": seed, "props": w.props,
        "spans": [{**s, "self_s": trace.self_time(tracer, s["id"]) if s["end"] else None,
                   "job_ids": sorted(j for j, job in elog["jobs"].items() if job["group"] == s["group"])}
                  for s in tracer.spans],
        "aliases": tracer.aliases,
        "spans_by_name": {k: {f: (sorted(v) if isinstance(v, set) else v) for f, v in acc.items()}
                          for k, acc in spans.items()},
        "metrics": out,
    }
    path = os.path.join(work, f"trace-{workload}-s{seed}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"trace written to {path}")
    for k, v in out.items():
        if v:
            log(f"  {k:45s} {v:,.4f}")
    return {name: {"value": out[name], "unit": unit} for name, unit in PER_LAYER}
