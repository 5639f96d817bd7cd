"""The benchmark workloads. Each is a closed loop with one client:
the next operation starts only after the previous one has finished
and been checked against the reference.

A workload object owns its inputs under the run's work directory and
exposes ``setup()``, ``op(traced)`` and the metric dictionaries. The
loop itself lives in ``run.py``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
import oracle
from tracing import (
    ENGINE_KEYS,
    Py4jCounter,
    Tracer,
    dir_files_bytes,
    engine_totals,
    input_totals,
    jobs_for_groups,
    median,
    plan_metric,
    prefix_self_times,
    scan_tasks_with_input,
    stages_for_groups,
    tail_percentile,
)

#: log-pipeline input: turns and conversations of the generated events
N_TURNS = 100_000
N_CONVS = 5_000
#: CheckpointedRunner default bucket count (jobs/run_pipeline.py --buckets)
N_BUCKETS = 8
FAIL_AFTER = 4
#: buckets of the resume_job warm-up job before its injected failure:
#: bucket walls keep falling over the first ten or so bucket jobs of a
#: fresh JVM
RESUME_WARM_BUCKETS = 6
#: files per microbatch; the materialized table has 64 files, so 22
#: microbatches per drain and the median is the highest percentile with
#: ten microbatches beyond it
STREAM_FILES_PER_TRIGGER = 3
#: dedup corpus size: at 2,000 documents or fewer the chain's wall is
#: per-job overhead, the same at 1,000 as at 2,000, and swung 10-20%
#: between chains of one run
N_DOCS = 6_000
#: untimed batch runs before the window (the first is batch_first_run_s)
WARM_RUNS = 8
#: checked dedup chains on the corpus before the window: the first
#: chain of a fresh JVM plans and compiles every step and takes about
#: twice as long as the later ones
DEDUP_WARM_CHAINS = 2

SINKS = ["sink_errors", "sink_ui", "sink_growth", "sink_billing", "sink_rest"]
PREFIXES = ["scan", "entries", "parsers", "enrich", "route"]

LOG_LAYER_KEYS = [
    "transcripts.scan_s", "transcripts.input_records", "transcripts.input_bytes",
    "entry.build_s", "entry.self_s", "parsers.build_s",
    "parsers.build_py4j_calls", "parsers.self_s", "enrich.self_s",
    "enrich.broadcast_bytes", "router.build_s", "router.self_s",
    *[f"router.rows.{s}" for s in SINKS],
    "flagship.write_s", "flagship.files_written", "flagship.bytes_written",
]
CHECKPOINT_KEYS = [
    "checkpoint.bucket_s.median", "checkpoint.bucket_s.max", "checkpoint.jobs",
    "checkpoint.scan_amplification", "checkpoint.bucket_skew",
]
STREAM_KEYS = [
    "streaming.batches", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.commit_ms", "streaming.rows_per_batch",
]
DEDUP_KEYS = [
    "dedup.exact_s", "dedup.minhash_s", "dedup.simhash_s", "dedup.components_s",
    "dedup.verified_per_candidate", "dedup.scan_tasks",
]
#: every per-layer metric, in BENCHMARK.json order; a layer a workload
#: does not call reads 0
LAYER_KEYS = [
    "session.start_s", "transcripts.materialize_s", *LOG_LAYER_KEYS,
    *CHECKPOINT_KEYS, *STREAM_KEYS, *DEDUP_KEYS, *ENGINE_KEYS,
    "trace.overhead_s",
]


def input_key(workload: str) -> str:
    """Input-size part of a run's work-directory name."""
    if workload == "dedup_corpus":
        return f"d{N_DOCS}"
    return f"t{N_TURNS}-c{N_CONVS}"


class OutputMismatch(Exception):
    """An operation finished but its output disagrees with the reference."""


def start_session(master: str, nproc: int, work: str):
    from opentelemetry_log_collection_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        master,
        app_name="logbench",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the session's own GC choice, plus temp files kept in the
            # work directory
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


class Workload:
    """Shared state and bookkeeping of one benchmark run."""

    name = ""
    unit = "turns"

    def __init__(self, spark, work: str, seed: int, nproc: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer
        self.n_items = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[bool, list[float]] = {False: [], True: []}
        self.layers: dict[str, float] = {k: 0.0 for k in LAYER_KEYS}
        self.e2e: dict[str, tuple[float, str]] = {}
        self.engine: list[dict[str, float]] = []
        self._op = 0

    # -- bookkeeping ----------------------------------------------------

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _set_group(self, step: str) -> str:
        g = f"{self.name}-op{self._op}-{step}"
        self.spark.sparkContext.setJobGroup(g, g)
        return g

    def run_op(self, traced: bool, record: bool = True, op=None) -> float | None:
        """One checked operation (``op``, by default the workload's own).
        Returns its wall, or None when it raised or its output disagreed
        with the reference."""
        self._op += 1
        self.attempted += 1
        self.recording = record
        self.tracer.run_id = f"{self.name}-s{self.seed}-op{self._op}"
        try:
            wall = (op or self.op)(traced)
        except Exception as exc:  # noqa: BLE001 - count it, keep the loop running
            self.failed += 1
            self.errors.append(f"op {self._op}: {type(exc).__name__}: {exc}"[:2000])
            return None
        if record:
            self.walls[traced].append(wall)
        return wall

    def verify(self, problems: list[str]) -> None:
        if problems:
            raise OutputMismatch("; ".join(problems[:5]))

    def items_per_op(self) -> int:
        return self.n_items

    def items_per_s(self) -> float:
        ws = self.walls[False]
        return median([self.items_per_op() / w for w in ws]) if ws else 0.0

    def record_engine(self, groups: set[str]) -> list:
        stages = stages_for_groups(self.spark, groups)
        self.engine.append(engine_totals(stages))
        return stages

    def finish_layers(self) -> None:
        for k in ENGINE_KEYS:
            self.layers[k] = median([e[k] for e in self.engine])
        if self.walls[True] and self.walls[False]:
            self.layers["trace.overhead_s"] = (
                median(self.walls[True]) - median(self.walls[False])
            )

    # -- per workload ---------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, traced: bool) -> float:
        raise NotImplementedError

    def trace_layers(self) -> None:
        """Extra per-layer measurements of a traced run."""

    def end_to_end(self) -> None:
        """Fill ``e2e`` with the workload's named end-to-end metrics."""
        raise NotImplementedError


# ---------------------------------------------------------------------
# log-pipeline workloads: shared input, reference and prefix timings
# ---------------------------------------------------------------------


class LogWorkload(Workload):
    def setup(self) -> None:
        from opentelemetry_log_collection_spark.transcripts import (
            materialized_transcripts,
        )

        self.sf_dir = self._dir("input")
        self.n_items = gen.write_events(self.sf_dir, self.seed, N_TURNS, N_CONVS)
        self.events = os.path.join(self.sf_dir, "events.parquet")
        self.reference = oracle.router_reference(self.events)
        t0 = time.perf_counter()
        table = materialized_transcripts(self.spark, self.sf_dir)
        self.layers["transcripts.materialize_s"] = time.perf_counter() - t0
        n = table.count()
        if n != self.n_items:
            raise RuntimeError(f"transcripts hold {n} rows, generated {self.n_items}")

    def build_layers(self) -> None:
        """Cold plan-construction cost of each layer, first build in the
        process; the parsers' py4j command count rides the same call."""
        from opentelemetry_log_collection_spark.entry import to_entries
        from opentelemetry_log_collection_spark.flagship import apply_parsers, router
        from opentelemetry_log_collection_spark.transcripts import (
            materialized_transcripts,
        )

        df = materialized_transcripts(self.spark, self.sf_dir)
        t0 = time.perf_counter()
        df = to_entries(df)
        t1 = time.perf_counter()
        with Py4jCounter(self.spark) as cnt:
            df = apply_parsers(df)
        t2 = time.perf_counter()
        router().tag(df)
        t3 = time.perf_counter()
        self.layers["entry.build_s"] = t1 - t0
        self.layers["parsers.build_s"] = t2 - t1
        self.layers["parsers.build_py4j_calls"] = float(cnt.count)
        self.layers["router.build_s"] = t3 - t2

    def prefix_frames(self) -> dict:
        from opentelemetry_log_collection_spark.entry import to_entries
        from opentelemetry_log_collection_spark.flagship import (
            apply_enrich,
            apply_parsers,
            router,
        )
        from opentelemetry_log_collection_spark.transcripts import (
            materialized_transcripts,
        )

        scan = materialized_transcripts(self.spark, self.sf_dir)
        entries = to_entries(scan)
        parsed = apply_parsers(entries)
        enriched = apply_enrich(self.spark, parsed)
        return {
            "scan": scan, "entries": entries, "parsers": parsed,
            "enrich": enriched, "route": router().tag(enriched),
        }

    def prefix_layers(self, full_wall: float | None, reps: int = 2) -> None:
        """Layer self-times from cumulative prefixes written to the noop
        sink: scan, +entries, +parsers, +enrich, +route. The flagship
        writer's share is the full run minus the routed prefix, where the
        workload calls it."""
        walls: dict[str, list[float]] = {p: [] for p in PREFIXES}
        frames = self.prefix_frames()
        for _ in range(reps):
            for p in PREFIXES:
                self._set_group(f"prefix-{p}")
                with self.tracer.span(f"prefix.{p}") as sp:
                    frames[p].write.format("noop").mode("overwrite").save()
                walls[p].append(sp.end - sp.start if sp else 0.0)
        med = {p: median(walls[p]) for p in PREFIXES}
        self_t = prefix_self_times(med, PREFIXES)
        self.layers["transcripts.scan_s"] = self_t["scan"]
        self.layers["entry.self_s"] = self_t["entries"]
        self.layers["parsers.self_s"] = self_t["parsers"]
        self.layers["router.self_s"] = self_t["route"]
        self.layers["enrich.self_s"] = self_t["enrich"]
        if full_wall is not None:
            self.layers["flagship.write_s"] = full_wall - med["route"]
        qe = frames["enrich"]._jdf.queryExecution()
        qe.executedPlan().execute().count()
        self.layers["enrich.broadcast_bytes"] = plan_metric(
            qe, "BroadcastExchange", "dataSize"
        )

    def routed_layers(self, counts: dict, stages: list) -> None:
        for s in SINKS:
            self.layers[f"router.rows.{s}"] = float(counts.get(s, 0))
        recs, nbytes = input_totals(stages)
        self.layers["transcripts.input_records"] = recs
        self.layers["transcripts.input_bytes"] = nbytes


class BatchFlagship(LogWorkload):
    name = "batch_flagship"

    def setup(self) -> None:
        super().setup()
        if self.tracer.enabled:
            self.build_layers()
        self.out_bytes: list[float] = []
        self.single_s: float | None = None
        self.first_run_s = self.run_op(False, record=False)
        # the generated code reaches JIT steady state over a few runs
        for _ in range(WARM_RUNS - 1):
            self.run_op(False, record=False)

    def op(self, traced: bool) -> float:
        from opentelemetry_log_collection_spark.flagship import run_flagship

        out = self._dir("out", "batch")
        g = self._set_group("run")
        with self.tracer.span("flagship.run_flagship"):
            t0 = time.perf_counter()
            counts = dict(run_flagship(self.spark, self.sf_dir, out).collect())
            wall = time.perf_counter() - t0
        self.verify(
            oracle.compare_counts("observation", self.reference, counts)
            + oracle.check_sink_dir("batch", self.reference, out)
        )
        files, nbytes = dir_files_bytes(out)
        if self.recording:
            self.out_bytes.append(nbytes / self.n_items)
        if traced:
            self.layers["flagship.files_written"] = float(files)
            self.layers["flagship.bytes_written"] = float(nbytes)
            self.routed_layers(counts, self.record_engine({g}))
        return wall

    def trace_layers(self) -> None:
        self.prefix_layers(median(self.walls[True]))
        # Untraced runs keep to the campaign's time budget, so the stream
        # drain and the single-core run happen here, after the layer
        # measurements, with no span or job group around them. The
        # streaming path drains the same table as a backlog: one
        # microbatch to warm its writer, then 3 files per microbatch.
        self.run_op(False, record=False, op=lambda _: self.drain(64)[0])
        self.run_op(False, record=False, op=self.stream_op)
        # Single-core baseline for scaling_efficiency: one untraced run
        # in a fresh local[1] session of the same, JIT-warm, JVM.
        self.spark.stop()
        self.spark = start_session("local[1]", 1, self.work)
        self.single_s = self.run_op(False, record=False)

    def drain(self, files_per_trigger: int) -> tuple[float, list[dict]]:
        """streaming_flagship with availableNow over the materialized
        table, checked like the batch sinks. Returns the drain wall and
        the progress of every microbatch that read rows."""
        from opentelemetry_log_collection_spark.streaming import streaming_flagship

        out = self._dir("out", f"stream{self._op}")
        ckpt = self._dir("out", f"ckpt{self._op}")
        t0 = time.perf_counter()
        q = streaming_flagship(self.spark, self.sf_dir, out, ckpt,
                               max_files_per_trigger=files_per_trigger)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        self.verify(
            oracle.compare_counts("stream counts", self.reference,
                                  oracle.stream_counts(os.path.join(out, "counts")))
            + oracle.check_sink_dir("stream", self.reference, os.path.join(out, "data"))
        )
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def stream_op(self, traced: bool) -> float:
        wall, prog = self.drain(STREAM_FILES_PER_TRIGGER)
        dur = [p["durationMs"] for p in prog]
        triggers = [d["triggerExecution"] for d in dur]
        self.e2e["stream_turns_per_s"] = (self.n_items / wall, "turns/s")
        self.e2e["microbatch_p50_ms"] = (median(triggers), "ms")
        tail = tail_percentile(triggers)
        if tail is not None:
            p, v, n = tail
            self.e2e["microbatch_tail_ms"] = (v, f"ms (p{p:g} of {n})")
        self.layers["streaming.batches"] = float(len(prog))
        self.layers["streaming.add_batch_ms"] = median([d.get("addBatch", 0) for d in dur])
        self.layers["streaming.planning_ms"] = median([d.get("queryPlanning", 0) for d in dur])
        self.layers["streaming.commit_ms"] = median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur])
        self.layers["streaming.rows_per_batch"] = median([p["numInputRows"] for p in prog])
        return wall

    def end_to_end(self) -> None:
        tput = self.items_per_s()
        self.e2e["batch_turns_per_s"] = (tput, "turns/s")
        if self.first_run_s is not None:
            self.e2e["batch_first_run_s"] = (self.first_run_s, "s")
        if self.single_s:
            tput1 = self.n_items / self.single_s
            self.e2e["scaling_efficiency"] = (tput / (self.nproc * tput1), "ratio")
        self.e2e["output_bytes_per_turn"] = (median(self.out_bytes), "B/turn")


class ResumeJob(LogWorkload):
    name = "resume_job"

    def setup(self) -> None:
        super().setup()
        if self.tracer.enabled:
            self.build_layers()
        self.job_walls: list[float] = []
        self.resume_walls: list[float] = []
        self.out_bytes: list[float] = []
        self.bucket_walls: list[float] = []
        self.ops_done = 0
        # warm-up: most buckets of the same job, then the injected failure
        warm = self._dir("out", "warmup")
        try:
            self._runner(warm, False).run(fail_after=RESUME_WARM_BUCKETS)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        shutil.rmtree(warm)

    def _runner(self, out: str, traced: bool):
        from opentelemetry_log_collection_spark.checkpoint import CheckpointedRunner

        runner = CheckpointedRunner(self.spark, self.sf_dir, out, n_buckets=N_BUCKETS)
        if traced:
            inner = runner.run_bucket

            def run_bucket(bucket, tagged):
                with self.tracer.span("checkpoint.run_bucket", bucket=bucket) as sp:
                    lin = inner(bucket, tagged)
                self.bucket_walls.append(sp.end - sp.start)
                return lin

            runner.run_bucket = run_bucket
        return runner

    def _ledgers(self, out: str) -> list[dict]:
        ledgers = []
        for p in sorted(glob.glob(os.path.join(out, "_checkpoint", "bucket=*.json"))):
            with open(p) as f:
                ledgers.append(json.load(f))
        return ledgers

    def items_per_op(self) -> int:
        # an operation processes the table twice: once uninterrupted,
        # once as the interrupted job plus its resume
        return 2 * self.n_items

    def op(self, traced: bool) -> float:
        """Returns the summed wall of the operation's three jobs."""
        # every production invocation is a fresh spark-submit: each
        # operation after the first starts a fresh session (the first
        # runs in the set-up session, which has run only the warm-up)
        if self.ops_done:
            self.spark.stop()
            self.spark = start_session(f"local[{self.nproc}]", self.nproc, self.work)
        self.ops_done += 1
        full = self._dir("out", f"job{self._op}")
        part = self._dir("out", f"resume{self._op}")
        g_full = self._set_group("job")
        with self.tracer.span("checkpoint.job"):
            t0 = time.perf_counter()
            self._runner(full, traced).run()
            job_wall = time.perf_counter() - t0
        ledgers = self._ledgers(full)
        self.verify(oracle.check_ledger(self.reference, N_BUCKETS, ledgers,
                                        os.path.join(full, "data")))
        self.out_bytes.append(dir_files_bytes(full)[1] / self.n_items)
        if traced:
            self._checkpoint_layers(ledgers, g_full)
        self._set_group("fail")
        t0 = time.perf_counter()
        try:
            self._runner(part, traced).run(fail_after=FAIL_AFTER)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        else:
            raise OutputMismatch("fail_after run did not fail")
        fail_wall = time.perf_counter() - t0
        if len(self._ledgers(part)) != FAIL_AFTER:
            raise OutputMismatch("interrupted run committed a wrong bucket count")
        self._set_group("resume")
        with self.tracer.span("checkpoint.resume"):
            t0 = time.perf_counter()
            self._runner(part, traced).run()
            resume_wall = time.perf_counter() - t0
        self.verify(oracle.check_ledger(self.reference, N_BUCKETS, self._ledgers(part),
                                        os.path.join(part, "data")))
        shutil.rmtree(full, ignore_errors=True)
        shutil.rmtree(part, ignore_errors=True)
        if self.recording and not traced:
            self.job_walls.append(job_wall)
            self.resume_walls.append(resume_wall)
        return job_wall + fail_wall + resume_wall

    def _checkpoint_layers(self, ledgers: list[dict], group: str) -> None:
        stages = self.record_engine({group})
        recs, _ = input_totals(stages)
        routed = sum(lin["rows_routed"] for lin in ledgers)
        counts: dict[str, int] = {}
        for lin in ledgers:
            for k, v in lin["sink_counts"].items():
                counts[k] = counts.get(k, 0) + v
        self.routed_layers(counts, stages)
        rows = [lin["rows_routed"] for lin in ledgers]
        self.layers["checkpoint.jobs"] = float(jobs_for_groups(self.spark, {group}))
        self.layers["checkpoint.scan_amplification"] = recs / routed
        self.layers["checkpoint.bucket_skew"] = max(rows) / median(rows)

    def trace_layers(self) -> None:
        self.layers["checkpoint.bucket_s.median"] = median(self.bucket_walls)
        self.layers["checkpoint.bucket_s.max"] = max(self.bucket_walls, default=0.0)
        self.prefix_layers(None)

    def end_to_end(self) -> None:
        if self.job_walls:
            self.e2e["job_turns_per_s"] = (
                median([self.n_items / w for w in self.job_walls]), "turns/s")
        if self.resume_walls:
            self.e2e["resume_s"] = (median(self.resume_walls), "s")
        self.e2e["output_bytes_per_turn"] = (median(self.out_bytes), "B/turn")


# ---------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------


DEDUP_STEPS = ("exact", "minhash", "simhash", "components")


class DedupCorpus(Workload):
    name = "dedup_corpus"
    unit = "docs"

    def setup(self) -> None:
        self.corpus = self._dir("input", "documents.parquet")
        self.n_items, self.planted = gen.write_corpus(self.corpus, self.seed, N_DOCS)
        t = pq.read_table(self.corpus, columns=["doc_id", "text"])
        self.texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        self.exact_ref = oracle.exact_reference(self.corpus)
        # per-document references, computed once and reused by every check
        self.shingle_sets: dict = {}
        self.simhashes: dict = {}
        self.steps: dict[str, list[float]] = {k: [] for k in DEDUP_STEPS}
        self.ratios: list[float] = []
        self.scan_tasks: list[float] = []
        for _ in range(DEDUP_WARM_CHAINS):
            self.run_op(False, record=False)

    def _step(self, name: str, fn, run: dict):
        run["groups"][name] = self._set_group(name)
        with self.tracer.span(f"dedup.{name}"):
            t0 = time.perf_counter()
            out = fn()
            run["steps"][name] = time.perf_counter() - t0
        return out

    def chain(self, path: str) -> dict:
        """exact_dedup -> minhash_near_dups on the survivors ->
        simhash_near_dups -> connected_components over both pair sets,
        each step collected so it can be timed and checked."""
        from opentelemetry_log_collection_spark import dedup

        spark = self.spark
        run: dict = {"steps": {}, "groups": {}}
        docs = spark.read.parquet(path).select("doc_id", "text")
        t0 = time.perf_counter()
        exact = self._step("exact", lambda: dedup.exact_dedup(docs).collect(), run)
        keep = spark.createDataFrame([(r.keep_id,) for r in exact], "doc_id long")
        survivors = docs.join(keep, "doc_id", "left_semi")
        mh = self._step(
            "minhash", lambda: dedup.minhash_near_dups(survivors).collect(), run)
        sh = self._step("simhash", lambda: dedup.simhash_near_dups(
            survivors, max_hamming=oracle.MAX_HAMMING).collect(), run)
        edges = sorted(
            {(r.doc_a, r.doc_b) for r in mh
             if r.inter_cnt >= oracle.JACCARD_MIN * r.union_cnt}
            | {(r.doc_a, r.doc_b) for r in sh}
        )
        cc = self._step("components", lambda: dedup.connected_components(
            spark.createDataFrame(edges, "doc_a long, doc_b long")).collect(), run)
        run["wall"] = time.perf_counter() - t0
        # the dedup operators leave their signature frames persisted
        spark.catalog.clearCache()
        run.update(exact=exact, mh=mh, sh=sh, edges=edges,
                   labels={r.doc_id: r.cluster_id for r in cc})
        return run

    def op(self, traced: bool) -> float:
        run = self.chain(self.corpus)
        exact, mh, labels = run["exact"], run["mh"], run["labels"]
        problems = []
        got_exact = {(r.content_hash, r.keep_id, r.n_copies) for r in exact}
        if got_exact != self.exact_ref:
            problems.append(
                f"exact dedup: {len(got_exact ^ self.exact_ref)} groups differ from DuckDB")
        problems += oracle.check_minhash_pairs(
            [(r.doc_a, r.doc_b, r.inter_cnt, r.union_cnt) for r in mh],
            self.texts, self.shingle_sets)
        problems += oracle.check_simhash_pairs(
            [(r.doc_a, r.doc_b, r.hamming) for r in run["sh"]],
            self.texts, self.simhashes)
        problems += oracle.check_components(labels, run["edges"])
        self.recall = oracle.planted_recall(
            labels, self.planted, [r.keep_id for r in exact])
        if self.recall < oracle.RECALL_MIN:
            problems.append(f"planted-pair recall {self.recall:.3f} < {oracle.RECALL_MIN}")
        self.verify(problems)
        if traced:
            for k, v in run["steps"].items():
                self.steps[k].append(v)
            verified = sum(1 for r in mh if r.inter_cnt >= oracle.JACCARD_MIN * r.union_cnt)
            self.ratios.append(verified / len(mh) if mh else 0.0)
            groups = run["groups"]
            self.scan_tasks.append(scan_tasks_with_input(
                self.spark, stages_for_groups(self.spark, {groups["exact"]})))
            self.record_engine(set(groups.values()))
        return run["wall"]

    def trace_layers(self) -> None:
        for name in DEDUP_STEPS:
            self.layers[f"dedup.{name}_s"] = median(self.steps[name])
        self.layers["dedup.verified_per_candidate"] = median(self.ratios)
        self.layers["dedup.scan_tasks"] = median(self.scan_tasks)

    def end_to_end(self) -> None:
        self.e2e["dedup_docs_per_s"] = (self.items_per_s(), "docs/s")


WORKLOADS = {
    w.name: w for w in (BatchFlagship, ResumeJob, DedupCorpus)
}
