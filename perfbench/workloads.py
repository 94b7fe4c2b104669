"""The benchmark's workloads. Each is a closed loop with one client:
the next operation starts when the previous one has finished.

A workload object is driven by ``run.py`` in four steps:
``setup()`` (inputs, warm-up), ``run()`` (the timed loop, whole rounds
only), ``check()`` (outputs against independent computations, outside
the timed phase) and ``metrics(traced)``.

The timed loop runs a fixed number of rounds: the run's seconds divided
by the workload's nominal round time on a 4-core box
(``NOMINAL_OP_S``), at least one. A loop that ran until the clock said
stop would do more operations on a fast stretch of a shared box than on
a slow one, and the extra operations sit further along the JVM's
warm-up curve, so runs would differ in what they measured, not only in
how fast the box was.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import types as T

import gen
import checks
from proc_cpu import EngineCpu

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
LAKE_TABLES = ("part", "customer", "orders", "lineitem", "documents", "embeddings")


def log(msg: str) -> None:
    """Phase timings on stderr (the result line goes to stdout)."""
    print(f"[{time.perf_counter() - T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs))


COUNTERS = (("jobs", "count"), ("task_ms", "ms"), ("shuffle_bytes", "B"), ("gc_ms", "ms"),
            ("codegen_compiles", "count"), ("jit_ms", "ms"))
# the counters a single refresh stage or query is given in the traced
# breakdown; GC and JIT time are the JVM's, not one stage's
PART_COUNTERS = tuple(c for c in COUNTERS if c[0] not in ("gc_ms", "jit_ms"))


def _layer_means(build_ms: list[float], exec_ms: list[float],
                 counters: list[dict]) -> dict:
    """The per-layer metrics every workload reports, as means per timed
    operation: the builder call (plan construction plus any eager
    checkpoint jobs inside it), the execution after it, and the Spark
    status-store counters harvested after each operation."""
    out = {"build_ms": (statistics.fmean(build_ms), "ms"),
           "exec_ms": (statistics.fmean(exec_ms), "ms")}
    for k, unit in COUNTERS:
        out[k] = (statistics.fmean(c[k] for c in counters), unit)
    return out


def _duck_lake(lake: str):
    con = duckdb.connect()
    for t in LAKE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    return con


class Workload:
    def __init__(self, spark, root: str, seed: int, tracer, seconds: float):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.lake = os.path.join(root, "lake")
        self.cpu = EngineCpu(spark.sparkContext._gateway.proc.pid)
        self.attempted = 0
        self.failed = 0
        # whole rounds, fixed by the run length, never by the clock
        self.rounds = max(1, round(seconds / self.NOMINAL_OP_S))


# ---------------------------------------------------------- cv_arrivals --

CV_SERVING_SCHEMA = T.StructType([
    T.StructField("cv_id", T.LongType()),
    T.StructField("competences", T.ArrayType(T.StringType())),
    T.StructField("localisation_souhaitee_id", T.StringType()),
    T.StructField("salaire_souhaite", T.DoubleType()),
    T.StructField("annees_experience", T.IntegerType()),
])


class CvArrivals(Workload):
    """Arriving CVs drained through ``streaming.serving.
    stream_candidate_recs`` against the frozen offer corpus of the
    lake. The client drops one file of ``CVS_PER_EPOCH`` CVs into the
    stream's source directory and waits until that micro-batch is
    served before dropping the next."""

    CVS_PER_EPOCH = 25
    WARMUP_EPOCHS = 5
    NOMINAL_OP_S = 2.0  # one epoch, client side

    def setup(self) -> None:
        from bigdata_jobmatching_spark.plans import domain_queries
        from bigdata_jobmatching_spark.streaming.serving import (
            stream_candidate_recs,
        )

        rows = gen.write_corpus_lake(self.lake)
        log("lake written")
        n_files = self.WARMUP_EPOCHS + self.rounds
        keys = gen.arrival_order(
            self.seed, rows["customer"], n_files * self.CVS_PER_EPOCH)
        self.staging = os.path.join(self.root, "arrivals_staging")
        self.src = os.path.join(self.root, "arrivals")
        os.makedirs(self.staging)
        os.makedirs(self.src)
        self.epochs: list[list[int]] = []
        self.files: list[str] = []
        for i in range(n_files):
            ks = keys[i * self.CVS_PER_EPOCH:(i + 1) * self.CVS_PER_EPOCH]
            path = os.path.join(self.staging, f"cvs-{i:05d}.parquet")
            pq.write_table(gen.tiered_cv_rows(ks), path)
            self.epochs.append(ks)
            self.files.append(path)

        log("arrival files written")
        self.tracer.wrap(domain_queries, "candidate_recs_for", "recs_build")
        stream = (
            self.spark.readStream.schema(CV_SERVING_SCHEMA)
            .option("maxFilesPerTrigger", "1").parquet(self.src))
        self.out = os.path.join(self.root, "recs")
        self.query = stream_candidate_recs(
            self.spark, self.lake, stream, self.out,
            os.path.join(self.root, "recs_ckpt"), available_now=False)
        self.fed = 0
        self.arrived = 0
        log("stream started")
        for _ in range(self.WARMUP_EPOCHS):
            self._serve_next()
            log(f"warm-up epoch {self.fed - 1}")
        self.first_timed = self.fed

    def _serve_next(self) -> dict:
        """Drop the next arrival file into the source directory (an
        atomic rename, so the stream never lists a half-written file)
        and block until the stream has served it."""
        i = self.fed
        self.tracer.begin_op(f"epoch{i}")
        path = self.files[i]
        dst = os.path.join(self.src, os.path.basename(path))
        os.rename(path, dst)
        self.fed += 1
        self.query.processAllAvailable()
        # counted from the arrival file, never from numInputRows
        self.arrived += len(self.epochs[i])
        return self.tracer.harvest()

    def run(self) -> None:
        self.counters: list[dict] = []
        self.epoch_cpu: list[float] = []
        t0 = time.perf_counter()
        cpu0 = self.cpu.seconds()
        arrived0 = self.arrived
        for _ in range(self.rounds):
            t = time.perf_counter()
            c = self.cpu.seconds()
            self.counters.append(self._serve_next())
            self.epoch_cpu.append(self.cpu.seconds() - c)
            self.attempted += 1
            log(f"epoch {self.fed - 1}: {time.perf_counter() - t:.3f} s, "
                f"cpu {self.epoch_cpu[-1]:.2f} s")
        self.wall_s = time.perf_counter() - t0
        self.cpu_s = self.cpu.seconds() - cpu0
        self.timed_cvs = self.arrived - arrived0
        self.query_progress = [p for p in self.query.recentProgress if p.numInputRows > 0]
        self.query.stop()

    def check(self) -> bool:
        from bigdata_jobmatching_spark.plans.catalog import load_all
        from bigdata_jobmatching_spark.streaming.serving import read_current_recs

        got = checks.recs_by_candidate(
            (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
            for r in read_current_recs(self.spark, self.out).collect())
        arrived = sorted({c for ks in self.epochs[:self.fed] for c in ks})
        con = _duck_lake(self.lake)
        con.execute("CREATE TEMP TABLE arrived (k BIGINT)")
        con.executemany("INSERT INTO arrived VALUES (?)", [(k,) for k in arrived])
        oracle = load_all()["candidate_recs_diversified"].oracle
        want = checks.recs_by_candidate(con.execute(
            f"SELECT candidate_id, rnk, job_id, rel, score FROM ({oracle}) "
            "WHERE candidate_id IN (SELECT k FROM arrived)").fetchall())
        con.close()
        bad = checks.failed_epochs(got, want, self.epochs[:self.fed])
        self.failed = sum(1 for i in bad if i >= self.first_timed)
        # stray candidates that never arrived must not be in the store
        return not any(i < self.first_timed for i in bad) and set(got) <= set(arrived)

    def metrics(self, traced: bool) -> tuple[dict, dict]:
        prog = {p.batchId: p for p in self.query_progress}
        epochs = range(self.first_timed, self.fed)
        trig = [prog[i].durationMs["triggerExecution"] for i in epochs]
        e2e = {
            "throughput_per_cpu_s": (self.timed_cvs / self.cpu_s, "1/s"),
            "op_cpu_ms": (_median(self.epoch_cpu) * 1000.0, "ms"),
        }
        # wall-clock figures, logged beside the end-to-end CPU figures
        wall = {
            "wall.throughput_per_s": (self.timed_cvs / self.wall_s, "1/s"),
            "wall.op_time_ms": (_median(trig), "ms"),
        }
        log("wall: " + ", ".join(f"{k} {v:.4g} {u}" for k, (v, u) in wall.items()))
        if not traced:
            return e2e, {}
        add = [prog[i].durationMs["addBatch"] for i in epochs]
        build = [self.tracer.span_ms("recs_build", f"epoch{i}") for i in epochs]
        rows_in = sum(prog[i].numInputRows for i in epochs)
        detail = {
            **e2e,
            **wall,
            "arrivals.add_batch_ms": (_median(add), "ms"),
            "arrivals.trigger_overhead_ms": (
                _median([t - a for t, a in zip(trig, add)]), "ms"),
            "arrivals.recs_build_ms": (_median(build), "ms"),
            "arrivals.input_scans": (rows_in / self.timed_cvs, "ratio"),
        }
        for k, unit in COUNTERS:
            detail[f"arrivals.{k}"] = (_median([c[k] for c in self.counters]), unit)
        return _layer_means(
            build, [a - b for a, b in zip(add, build)], self.counters), detail


# ---------------------------------------------------------- daily_batch --

# The bench queries the ROADMAP names as the similarity-join, matching,
# graph and rank-fusion hot set, cut to the five whose cold and warm
# passes fit one run: docs_prefix_filter_pairs and semantic_dedup_stats
# (more operators.dedup) and candidate_recs_diversified (served per
# epoch by cv_arrivals) are left out.
CORPUS_QUERIES = (
    "fuzzy_title_pairs",
    "docs_dedup_keep_best",
    "job_cv_matching",
    "copurchase_pagerank",
    "rrf_hybrid_fusion",
)
SIGNATURES = os.path.join(HERE, "signatures.json")
REFRESH = "refresh"
# the chain's stages, in order; each is timed by the traced run
REFRESH_STAGES = ("parse", "skills", "salary", "dedup", "sectors",
                  "warehouse", "gate", "match")
SCORE_SAMPLE = 40  # candidates whose match scores are recomputed


def _read_rows(path: str, columns: list[str]) -> list[dict]:
    """Rows of every parquet file under ``path`` (partition directories
    included), read with Arrow rather than the engine."""
    out: list[dict] = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        out.extend(pq.read_table(f, columns=columns).to_pylist())
    return out


def _current(table_root: str) -> str:
    """The published version directory of a versioned warehouse table."""
    with open(os.path.join(table_root, "_CURRENT")) as f:
        return os.path.join(table_root, f.read().strip())


class DailyBatch(Workload):
    """One day's batch, as a round of operations: the day's refresh
    (raw offers through ``orchestrate.run_staged_pipeline`` -- parse,
    skills, salary, dedup, sectors, write-audit-publish warehouse,
    quality gate -- then ``orchestrate.match_lakes`` against the CV
    lake), then one pass over registered bench queries on the fixed
    corpus lake, each executed into the noop sink. The day and the CV
    lake are seeded; the corpus lake is not."""

    queries = CORPUS_QUERIES
    WARMUP_THREADS = 4
    NOMINAL_OP_S = 40.0  # one round: the refresh and the query pass

    def setup(self) -> None:
        from bigdata_jobmatching_spark.plans.catalog import load_all
        from bigdata_jobmatching_spark.streaming.ingest import stream_cvs_to_lake

        gen.write_corpus_lake(self.lake)
        self.raw_day = os.path.join(self.root, "day.jsonl")
        self.truth = gen.write_day(self.seed, self.raw_day)
        cv_in = os.path.join(self.root, "cvs_in")
        os.makedirs(cv_in)
        gen.write_raw_cvs(self.seed, os.path.join(cv_in, "cvs.json"))
        log("inputs written")
        registry = load_all()
        self.specs = {q: registry[q] for q in self.queries}
        with open(SIGNATURES) as f:
            stored = json.load(f)["queries"]
        self.cv_lake = os.path.join(self.root, "cv_lake")

        # Warm-up, which is also the queries' output check: each
        # query's rows must match the signature of its DuckDB oracle.
        # The timed passes run the same plans on the same lake into the
        # noop sink, so a query that fails here fails every time. The
        # queries warm up concurrently (like independent clients) beside
        # the landing of the CV lake: most of a cold query's time is
        # driver-side planning and code generation, which overlaps.
        def warm(q: str) -> bool:
            df = self.specs[q].spark(self.spark, self.lake)
            ok = checks.signature(df.columns, df.collect()) == stored[q]
            log(f"warm-up {q}: {'ok' if ok else 'WRONG'}")
            return ok

        def land_cvs() -> None:
            t = time.perf_counter()
            stream_cvs_to_lake(
                self.spark, cv_in, self.cv_lake,
                os.path.join(self.root, "cv_lake_ckpt")).awaitTermination()
            self.cv_landing_ms = (time.perf_counter() - t) * 1000.0
            log("CV lake landed")

        with ThreadPoolExecutor(self.WARMUP_THREADS) as pool:
            landing = pool.submit(land_cvs)
            ok = dict(zip(self.queries, pool.map(warm, self.queries)))
            landing.result()
        self.bad_queries = {q for q, good in ok.items() if not good}
        self.kinds = (REFRESH,) + self.queries
        self.samples: dict[str, list[float]] = {k: [] for k in self.kinds}
        self.cpu_samples: dict[str, list[float]] = {k: [] for k in self.kinds}
        self.builds: dict[str, list[float]] = {q: [] for q in self.queries}
        self.counters: dict[str, list[dict]] = {k: [] for k in self.kinds}
        self.refreshes: list[dict] = []
        self.stages = self._clock_stages()

    def _clock_stages(self):
        """With tracing on, wrap the chain's stage builders and
        landings (public functions the program calls internally)."""
        if not self.tracer.enabled:
            return None
        from bigdata_jobmatching_spark import orchestrate
        from bigdata_jobmatching_spark.operators import matching
        from bigdata_jobmatching_spark.plans import domain_pipeline
        from tracing import StageClock

        clock = StageClock(self.tracer)
        for attr, stage in (("normalize_offers", "parse"), ("extract_skills", "skills"),
                            ("enrich_salary", "salary"), ("dedup_offers", "dedup"),
                            ("enrich_sectors", "sectors"), ("build_warehouse", "warehouse")):
            clock.builder(domain_pipeline, attr, stage)
        clock.builder(matching, "match_offers_cvs_prefiltered", "match")
        clock.landing(orchestrate, "write_stage")
        clock.landing(orchestrate, "publish_warehouse_wap")
        clock.landing(orchestrate, "quality_check", "gate")
        clock.landing(orchestrate, "match_lakes", "match")
        return clock

    def _refresh(self, n: int) -> None:
        from bigdata_jobmatching_spark import orchestrate
        from bigdata_jobmatching_spark.schemas import JOB_RAW_SCHEMA
        from bigdata_jobmatching_spark.sources.io import read_json_records

        out = os.path.join(self.root, f"day{n}")
        if self.stages is not None:
            self.stages.begin_op()
        raw = read_json_records(self.spark, self.raw_day, JOB_RAW_SCHEMA)
        gate = orchestrate.run_staged_pipeline(self.spark, raw, out)
        matched = orchestrate.match_lakes(
            self.spark, f"{out}/sectors_enriched", self.cv_lake, f"{out}/match")
        self.refreshes.append({"out": out, "gate": gate, "matched": matched})

    def run(self) -> None:
        sc = self.spark.sparkContext
        self.tracer.harvest()  # the warm-up's jobs belong to set-up
        t0 = time.perf_counter()
        cpu0 = self.cpu.seconds()
        n = 0
        for _ in range(self.rounds):
            for kind in self.kinds:
                op = f"{kind}#{n}"
                n += 1
                self.tracer.begin_op(op)
                sc.setJobGroup(op, kind)
                cpu = self.cpu.seconds()
                a = time.perf_counter()
                with self.tracer.span(kind):
                    if kind == REFRESH:
                        self._refresh(n)
                    else:
                        with self.tracer.span("build"):
                            df = self.specs[kind].spark(self.spark, self.lake)
                        b = time.perf_counter()
                        with self.tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                        self.builds[kind].append(b - a)
                c = time.perf_counter()
                self.samples[kind].append(c - a)
                self.cpu_samples[kind].append(self.cpu.seconds() - cpu)
                log(f"{kind}: {c - a:.3f} s, cpu {self.cpu_samples[kind][-1]:.2f} s")
                if kind == REFRESH and self.stages is not None:
                    stages = self.stages.ops[-1].values()
                    self.counters[kind].append(
                        {k: sum(s[k] for s in stages) for k, _ in COUNTERS})
                else:
                    self.counters[kind].append(self.tracer.harvest())
                self.attempted += 1
                if kind in self.bad_queries:
                    self.failed += 1
        self.wall_s = time.perf_counter() - t0
        self.cpu_s = self.cpu.seconds() - cpu0
        sc.setLocalProperty("spark.jobGroup.id", None)

    def check(self) -> bool:
        """The queries were checked in set-up; here each refresh is
        checked against the generator's truths and its match scores
        against a plain-Python recomputation from the landed lakes."""
        import random

        cvs = _read_rows(self.cv_lake, [
            "cv_id", "competences", "localisation_souhaitee_id",
            "salaire_souhaite", "annees_experience"])
        sample = random.Random(self.seed).sample(
            sorted(r["cv_id"] for r in cvs), SCORE_SAMPLE)
        for r in self.refreshes:
            out = r["out"]
            sectors = _read_rows(f"{out}/sectors_enriched", [
                "offer_id", "skills", "location", "salaire_min", "salaire_max",
                "experience_level"])
            wh = f"{out}/warehouse"
            fact = _read_rows(_current(f"{wh}/fact_offres"), [
                "offre_id", "entreprise_id", "localisation_id", "skills",
                "competences_ids"])
            dims = {t: [x[k] for x in _read_rows(_current(f"{wh}/{t}"), [k])]
                    for t, k in (("dim_entreprise", "entreprise_id"),
                                 ("dim_localisation", "localisation_id"),
                                 ("dim_competence", "competence_id"))}
            dedup_ids = [x["offer_id"] for x in _read_rows(f"{out}/deduplicated", ["offer_id"])]
            faults = checks.day_faults(self.truth, r["gate"], dedup_ids, sectors, fact, dims)
            got = {(x["job_id"], x["candidate_id"]): x["match_score"]
                   for x in _read_rows(f"{out}/match/matching_scores",
                                       ["job_id", "candidate_id", "match_score"])}
            if not got:
                faults.append("empty score table")
            faults += checks.score_faults(got, checks.match_scores(sectors, cvs, sample))
            for f in faults:
                log(f"refresh check: {f}")
            if faults:
                self.failed += 1
        return True

    def metrics(self, traced: bool) -> tuple[dict, dict]:
        def geomean(samples: dict[str, list[float]]) -> float:
            med = [_median(samples[k]) * 1000.0 for k in self.kinds]
            return math.exp(sum(math.log(m) for m in med) / len(med))

        e2e = {
            "throughput_per_cpu_s": (self.attempted / self.cpu_s, "1/s"),
            "op_cpu_ms": (geomean(self.cpu_samples), "ms"),
        }
        # wall-clock figures, logged beside the end-to-end CPU figures
        wall = {
            "wall.throughput_per_s": (self.attempted / self.wall_s, "1/s"),
            "wall.op_time_ms": (geomean(self.samples), "ms"),
        }
        log("wall: " + ", ".join(f"{k} {v:.4g} {u}" for k, (v, u) in wall.items()))
        if not traced:
            return e2e, {}
        detail = {**e2e, **wall}
        detail["refresh.cv_landing_ms"] = (self.cv_landing_ms, "ms")
        for stage in REFRESH_STAGES:
            per_op = [op[stage] for op in self.stages.ops]
            for k, unit in (("build_ms", "ms"), ("wall_ms", "ms")) + PART_COUNTERS:
                detail[f"refresh.{stage}.{k}"] = (_median([x[k] for x in per_op]), unit)
        detail["refresh.gc_ms"] = (_median([c["gc_ms"] for c in self.counters[REFRESH]]), "ms")
        for q in self.queries:
            s, c = self.samples[q], self.counters[q]
            b = self.builds[q]
            detail[f"corpus.{q}.build_ms"] = (_median(b) * 1000.0, "ms")
            detail[f"corpus.{q}.exec_ms"] = (
                _median([t - x for t, x in zip(s, b)]) * 1000.0, "ms")
            for k, unit in PART_COUNTERS:
                detail[f"corpus.{q}.{k}"] = (_median([x[k] for x in c]), unit)
        # the shared per-layer metrics: means per operation, where a
        # refresh's build is the sum of its stage builders
        build = [sum(st["build_ms"] for st in op.values()) for op in self.stages.ops]
        build += [x * 1000.0 for q in self.queries for x in self.builds[q]]
        total = [x * 1000.0 for k in self.kinds for x in self.samples[k]]
        return _layer_means(
            build, [t - b for t, b in zip(total, build)],
            [x for k in self.kinds for x in self.counters[k]]), detail


WORKLOADS = {
    "cv_arrivals": CvArrivals,
    "daily_batch": DailyBatch,
}
