"""The three workloads, driven only through the program's public functions.

One process, one client thread, a closed loop with no think time.  Spark
runs at ``local[<cores>]`` through ``session.get_spark`` as shipped; the
benchmark sets no Spark conf of its own.

- ``interactive_queries``: per-problem direct queries (four families, uniform)
  on a static snapshot; problems drawn from a seeded Zipf(1).
- ``ingest_and_serve``: arena export -> reshape -> append -> MV refresh ->
  serve the touched problems, plus one direct read of the live table.
- ``corpus_batch``: full MV rebuilds of the corpus (SRM map, clustering,
  three-way join).

Every workload first sets up ``SETUPS`` times (session start + bulk load of
a fresh atomic lakehouse, one commit per table) and reports the median as
``setup_s``; the workload then runs on the last set-up.
"""

from __future__ import annotations

import copy
import itertools
import math
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

import numpy as np

import generator as gen
import verify

FAMILIES = ("srm_output_view", "behavioral_clustering", "consensus_oracle", "three_way_join")
SETUPS = 3
# interactive_queries: the first requests of the stream run untimed, until
# the JIT has compiled the query path (latency falls for about 30 requests).
WARM_UP_REQUESTS = 32
GOLDEN = 0.6180339887498949

# Problems in each workload's bulk-loaded corpus (each ~26 implementations x
# ~650 SRM rows, about 17,000 observation rows).
PROBLEMS = {"interactive_queries": 16, "ingest_and_serve": 4, "corpus_batch": 16}
# (implementations, SRM rows) quantiles of the new problems in each ingest batch.
NEW_PROBLEM_QUANTILES = ((0.5, 0.5),)


def popularity_order(problems: list[gen.Problem]) -> list[gen.Problem]:
    """Problems hottest first.  Popularity ranks walk the size order by a
    golden-ratio stride (middle, small, large, ...), so the hot set spans
    the size range the same way for every seed."""
    by_size = sorted(problems, key=lambda p: (p.rows_per_run, p.problem_id))
    n = len(by_size)
    keys = [(0.5 + r * GOLDEN) % 1.0 for r in range(n)]
    return [by_size[i] for i in np.argsort(np.argsort(keys))]


CHECKS = {
    "srm_output_view": verify.srm_view,
    "behavioral_clustering": verify.clusters,
    "consensus_oracle": verify.consensus,
    "three_way_join": verify.three_way_join,
}


def dir_bytes(path: Path) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, tracer, work: Path) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.input_bytes = 0  # appended to the measured lakehouse
        self.bytes_written = 0  # data files and manifests those appends wrote
        self.measuring = False
        self.spark = None
        self.lh = None

    # -- bookkeeping ----------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG ANSWER: {what}", flush=True)

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAILED: {what}\n{traceback.format_exc()}", flush=True)

    # -- layer calls ----------------------------------------------------------

    def start_session(self) -> None:
        from observation_lakehouse_spark.session import get_spark

        with self.tr.span("session.start"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.samples["session_start_s"].append(time.perf_counter() - t)
        self.tr.attach(self.spark)

    def table(self, name: str):
        with self.tr.span("lakehouse.table", table=name):
            t = time.perf_counter()
            df = self.lh.table(name)
            if self.measuring:
                self.samples["table_open_ms"].append((time.perf_counter() - t) * 1000)
        return df

    def table_dir(self, name: str) -> Path:
        return Path(self.lh.snapshot_table(name).location)

    def manifest(self, name: str) -> Path:
        t = self.lh.snapshot_table(name)
        return self.table_dir(name) / "_manifests" / f"v{t.latest_version()}.json"

    def append(self, name: str, df, key: str, input_bytes: int) -> float:
        before = dir_bytes(self.table_dir(name) / "data")
        with self.tr.span("transaction.append", table=name):
            t = time.perf_counter()
            self.lh.append(name, df, idempotency_key=key)
            ms = (time.perf_counter() - t) * 1000
        written = dir_bytes(self.table_dir(name) / "data") - before
        self.bytes_written += written + self.manifest(name).stat().st_size
        self.input_bytes += input_bytes
        return ms

    def query(self, family: str, p: gen.Problem):
        """One direct per-problem query, fetched to pandas like the
        reference's benchmark scripts do."""
        from observation_lakehouse_spark import operators as ops

        obs = self.table("observations")
        if family == "three_way_join":
            code, tests = self.table("code_implementations"), self.table("tests")
        with self.tr.span(f"operators.build.{family}"):
            kw = {"problem_id": p.problem_id, "data_set_id": gen.DATA_SET}
            if family == "srm_output_view":
                df = ops.srm_output_view(obs, implementation_ids=p.impl_ids, **kw)
            elif family == "behavioral_clustering":
                df = ops.behavioral_clustering(obs, **kw)
            elif family == "consensus_oracle":
                df = ops.consensus_oracle(obs, **kw)
            else:
                df = ops.three_way_join(obs, code, tests, **kw)
        if self.tr.enabled:
            with self.tr.span(f"spark.plan.{family}"):
                df._jdf.queryExecution().executedPlan()
        with self.tr.span(f"spark.execute_fetch.{family}") as s:
            pdf = df.toPandas()
        if s is not None:
            s.attrs["result_rows"] = len(pdf)
        return pdf

    # -- set-up ---------------------------------------------------------------

    def setup(self, problems: list[gen.Problem], inputs: dict[str, tuple[str, int]]) -> None:
        from observation_lakehouse_spark.lakehouse import ObservationLakehouse

        rows = sum(p.rows_per_run for p in problems)
        for i in range(SETUPS):
            if i:
                self.tr.finish()
                self.spark.stop()
                self.tr.attach(None)
                shutil.rmtree(self.lh_dir, ignore_errors=True)
            self.input_bytes = self.bytes_written = 0
            self.lh_dir = self.work / f"lakehouse{i}"
            t0 = time.perf_counter()
            with self.tr.span("client.setup"):
                self.start_session()
                self.lh = ObservationLakehouse(
                    self.spark, table_format="atomic", location=str(self.lh_dir)
                )
                with self.tr.span("lakehouse.bulk_load"):
                    tb = time.perf_counter()
                    for name, (path, nbytes) in inputs.items():
                        ms = self.append(name, self.spark.read.parquet(path), f"bulk-{name}", nbytes)
                        if name == "observations":
                            self.samples["bulk_commit_ms"].append(ms)
                    bulk_s = time.perf_counter() - tb
                    self.samples["bulk_load_s"].append(bulk_s)
                    self.samples["bulk_rows_per_s"].append(rows / bulk_s)
            self.samples["setup_s"].append(time.perf_counter() - t0)

    def make_mvs(self, families) -> None:
        from observation_lakehouse_spark.plans import result_mv as rmv

        computes = {
            "srm": lambda: rmv.srm_map_mv_compute,
            "clu": lambda: rmv.clustering_mv_compute,
            "twj": lambda: rmv.three_way_join_mv_compute(
                self.table("code_implementations"), self.table("tests")
            ),
        }
        self.mvs = {
            f: rmv.ProblemResultMV(self.spark, str(self.lh_dir / f"mv_{f}"), computes[f]())
            for f in families
        }

    def full_build(self, family: str) -> float:
        with self.tr.span(f"plans.result_mv.full_build.{family}"):
            t = time.perf_counter()
            self.mvs[family].refresh_full(self.table("observations"))
            return time.perf_counter() - t

    def inputs(self, problems: list[gen.Problem]) -> dict[str, tuple[str, int]]:
        """Bulk-load input files, made from the seed (not timed)."""
        d = self.work / "input"
        obs = gen.observations_table(problems, "run_0", self.seed)
        return {
            "observations": (str(d / "obs"), gen.write(obs, str(d / "obs"), 100_000)),
            "code_implementations": (str(d / "code"), gen.write(gen.code_table(problems), str(d / "code"))),
            "tests": (str(d / "tests"), gen.write(gen.tests_table(problems), str(d / "tests"))),
        }

    # -- workloads ------------------------------------------------------------

    def run(self) -> None:
        problems = gen.make_problems(self.seed, PROBLEMS[self.workload])
        self.setup(problems, self.inputs(problems))
        self.start_version = self.lh.snapshot_table("observations").latest_version()
        self.files_at_start = self.snapshot_files()
        getattr(self, self.workload)(problems)
        self.files_at_end = self.snapshot_files()

    def table_open_probe(self, rounds: int = 5) -> tuple[float, float]:
        """Median ``table("observations")`` ms at the snapshot the workload
        started from and at the final one, alternated so JIT warm-up favours
        neither: what the commits of the run cost a reader."""
        start: list[float] = []
        end: list[float] = []
        for _ in range(rounds):
            for out, open_ in (
                (start, lambda: self.lh.table_at("observations", self.start_version)),
                (end, lambda: self.lh.table("observations")),
            ):
                t = time.perf_counter()
                open_()
                out.append((time.perf_counter() - t) * 1000)
        return median(start), median(end)

    def snapshot_files(self) -> int:
        import json

        return len(json.loads(self.manifest("observations").read_text())["files"])

    def interactive_queries(self, problems: list[gen.Problem]) -> None:
        rng = np.random.default_rng([self.seed, 7])
        hot = popularity_order(problems)
        zipf_cdf = np.cumsum(1.0 / np.arange(1, len(hot) + 1))
        zipf_cdf /= zipf_cdf[-1]
        u = rng.random()
        families: list[str] = []
        deadline = math.inf
        for n in itertools.count():
            if n == WARM_UP_REQUESTS:
                self.measuring = True
                deadline = time.perf_counter() + self.seconds
            if time.perf_counter() >= deadline:
                break
            # Each family is equally likely; drawing them in shuffled rounds
            # of four keeps the mix of a short run even.
            if not families:
                families = list(rng.permutation(FAMILIES))
            family = families.pop()
            # Zipf draws by inverse CDF of a golden-ratio sequence from a
            # seeded start: every stretch of the run sees the Zipf mix.
            p = hot[int(np.searchsorted(zipf_cdf, u, side="right"))]
            u = (u + GOLDEN) % 1.0
            try:
                with self.tr.request(family) if self.measuring else nullcontext():
                    t = time.perf_counter()
                    pdf = self.query(family, p)
                    ms = (time.perf_counter() - t) * 1000
            except Exception:  # noqa: BLE001 — count it, keep the loop running
                self.fail(f"{family} {p.problem_id}")
                continue
            if self.measuring:
                self.samples["request_ms"].append(ms)
                self.samples[f"{family}_ms"].append(ms)
            self.check(CHECKS[family](pdf, p), f"{family} {p.problem_id}")

    def ingest_and_serve(self, problems: list[gen.Problem]) -> None:
        self.make_mvs(("srm", "clu"))
        for f in self.mvs:
            self.full_build(f)
        self.warm_up_ingest(problems[0])
        batches = self.batches(problems)
        self.measuring = True
        deadline = time.perf_counter() + self.seconds
        step, done = 0, 0.0
        # Steps take seconds: start one only if it can end by the deadline,
        # so the step count does not flip with small speed changes.
        while step == 0 or done + (done - start) <= deadline:
            step += 1
            start = time.perf_counter()
            self.ingest_step(step, *next(batches))
            done = time.perf_counter()

    def warm_up_ingest(self, p: gen.Problem) -> None:
        """Serve ``p`` from the fresh MVs (checked) and reshape, without
        appending, an export of it, so the first timed step does not pay
        for first-use code paths and the Python UDF workers."""
        from observation_lakehouse_spark.ingest import arena

        self.check(verify.srm_map(self.mvs["srm"].serve(gen.DATA_SET, p.problem_id).toPandas(), p), "built srm MV")
        served = self.mvs["clu"].serve(gen.DATA_SET, p.problem_id).toPandas()
        self.check(verify.clusters(served, p, False), "built clustering MV")
        d = self.work / "warm-up"
        gen.write(gen.arena_export([copy.deepcopy(p)], [], "exec_0", self.seed), str(d / "cells"))
        gen.write(gen.solr_docs([p]), str(d / "docs"))
        cells = self.spark.read.parquet(str(d / "cells"))
        kw = {"data_set_id": gen.DATA_SET, "ingested_at": gen.CREATED_AT}
        for df in (
            arena.reshape_observations(cells, **kw),
            arena.reshape_tests(cells, **kw),
            arena.reshape_code_implementations(self.spark.read.parquet(str(d / "docs")), **kw),
        ):
            df.write.format("noop").mode("overwrite").save()

    def batches(self, problems: list[gen.Problem]):
        """(new problems, re-executed problems) of each export batch.  Every
        batch has the same shape: new problems at fixed size quantiles plus
        a re-execution of a problem loaded earlier (the previous batch's
        first, at first the median base problem)."""
        k = len(problems)
        rerun = sorted(problems, key=lambda p: p.rows_per_run)[len(problems) // 2]
        while True:
            new = [gen.problem(self.seed, k + i, q) for i, q in enumerate(NEW_PROBLEM_QUANTILES)]
            k += len(new)
            yield new, [rerun]
            rerun = new[0]

    def ingest_step(self, step: int, new, reruns) -> None:
        try:
            self._ingest_step(step, new, reruns)
        except Exception:  # noqa: BLE001 — count it, keep the loop running
            self.fail(f"ingest step {step}")

    def _ingest_step(self, step: int, new, reruns) -> None:
        from observation_lakehouse_spark.ingest import arena

        d = self.work / f"export{step}"
        export_bytes = gen.write(gen.arena_export(new, reruns, f"exec_{step}", self.seed), str(d / "cells"))
        docs_bytes = gen.write(gen.solr_docs(new), str(d / "docs"))
        touched = [*new, *reruns]
        rows = sum(p.rows_per_run for p in touched)
        served, serve_ms = {}, []
        with self.tr.request("ingest_step") if self.measuring else nullcontext():
            t0 = time.perf_counter()
            with self.tr.span("ingest.reshape"):
                cells = self.spark.read.parquet(str(d / "cells"))
                kw = {"data_set_id": gen.DATA_SET, "ingested_at": gen.CREATED_AT}
                obs = arena.reshape_observations(cells, **kw)
                tests = arena.reshape_tests(cells, **kw)
                code = arena.reshape_code_implementations(self.spark.read.parquet(str(d / "docs")), **kw)
            self.append("tests", tests, f"tests-{step}", 0)
            self.append("code_implementations", code, f"code-{step}", docs_bytes)
            before = self.lh.snapshot_table("observations").latest_version()
            commit_ms = self.append("observations", obs, f"obs-{step}", export_bytes)
            t_ingested = time.perf_counter()
            with self.tr.span("plans.result_mv.refresh") as s:
                files = {f: self.mv_files(f) for f in self.mvs}
                # the committed delta (its new files), not the reshape plan
                appended = self.lh.snapshot_table("observations").read_changes(before)
                for mv in self.mvs.values():
                    mv.refresh_after_append(self.table("observations"), appended)
                t_fresh = time.perf_counter()
                if s is not None:
                    rewritten = sum(len(self.mv_files(f) - files[f]) for f in self.mvs)
                    s.attrs.update(touched=len(touched) * len(self.mvs), rewritten=rewritten)
            for p in touched:
                for f, mv in self.mvs.items():
                    with self.tr.span("plans.result_mv.serve"):
                        t = time.perf_counter()
                        served[p.problem_id, f] = mv.serve(gen.DATA_SET, p.problem_id).toPandas()
                        serve_ms.append((time.perf_counter() - t) * 1000)
            t = time.perf_counter()
            fresh = self.query("srm_output_view", new[0])
            t_end = time.perf_counter()
        if self.measuring:
            s = self.samples
            s["request_ms"].append((t_end - t0) * 1000)
            s["request_rows"].append(rows)
            s["commit_ms"].append(commit_ms)
            s["ingest_rows_per_s"].append(rows / (t_ingested - t0))
            s["mv_refresh_ms"].append((t_fresh - t_ingested) * 1000)
            s["mv_serve_ms"].extend(serve_ms)
            s["fresh_read_ms"].append((t_end - t) * 1000)

        for p in touched:
            self.check(verify.srm_map(served[p.problem_id, "srm"], p), f"served srm {p.problem_id}")
            self.check(verify.clusters(served[p.problem_id, "clu"], p, False), f"served clusters {p.problem_id}")
        self.check(verify.srm_view(fresh, new[0]), f"fresh srm {new[0].problem_id}")
        for p in touched:  # served = the direct operator (outside the timing)
            view = fresh if p is new[0] else self.query("srm_output_view", p)
            self.check(verify.srm_view_equals_map(view, served[p.problem_id, "srm"]), f"srm MV = direct {p.problem_id}")
            direct = self.query("behavioral_clustering", p)
            self.check(verify.clusters_equal(direct, served[p.problem_id, "clu"]), f"cluster MV = direct {p.problem_id}")
        shutil.rmtree(d, ignore_errors=True)

    def mv_files(self, family: str) -> set[str]:
        root = self.mvs[family].path
        return {
            os.path.relpath(os.path.join(r, f), root)
            for r, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        }

    def corpus_batch(self, problems: list[gen.Problem]) -> None:
        rng = np.random.default_rng([self.seed, 13])
        rows = sum(p.rows_per_run for p in problems)
        self.make_mvs(("srm", "clu", "twj"))
        self.measuring = True
        deadline = time.perf_counter() + self.seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            passes += 1
            try:
                for f in self.mvs:
                    with self.tr.request(f"refresh_full.{f}"):
                        s = self.full_build(f)
                    self.samples["request_ms"].append(s * 1000)
                    self.samples["request_rows"].append(rows)
                self.verify_batch(problems[int(rng.integers(len(problems)))])
            except Exception:  # noqa: BLE001
                self.fail(f"batch pass {passes}")

    def verify_batch(self, p: gen.Problem) -> None:
        served = {f: mv.serve(gen.DATA_SET, p.problem_id).toPandas() for f, mv in self.mvs.items()}
        direct = {family: self.query(family, p) for family in FAMILIES}
        for family in FAMILIES:
            self.check(CHECKS[family](direct[family], p), f"{family} {p.problem_id}")
        self.check(verify.srm_map(served["srm"], p), f"served srm {p.problem_id}")
        self.check(verify.srm_view_equals_map(direct["srm_output_view"], served["srm"]), f"srm MV = direct {p.problem_id}")
        self.check(verify.clusters_equal(direct["behavioral_clustering"], served["clu"]), f"cluster MV = direct {p.problem_id}")
        self.check(verify.three_way_join(served["twj"], p), f"served join {p.problem_id}")
