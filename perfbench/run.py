"""Domain benchmark of the observation lakehouse.

    python3 perfbench/run.py --workload interactive_queries --seed 1 --seconds 13 --trace 0

Run from the repository root.  Generates a study-shaped corpus from the seed,
drives the program through its public functions, checks every answer against
the planted truth, and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with spans and
Spark counters and reports the per-layer metrics.  Lines before the last
print the fuller per-workload report (every metric that applies, with its
unit and sample count).  Spans and results go to ``perfbench/.results``;
scratch data goes to ``perfbench/.work`` and is removed on exit.

Exits non-zero, printing no result, when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import NullTracer, Tracer  # noqa: E402
from workloads import Run, dir_bytes, median  # noqa: E402

WORKLOADS = ("interactive_queries", "ingest_and_serve", "corpus_batch")


def _p95(xs) -> float:
    return float(statistics.quantiles(xs, n=20)[-1]) if len(xs) >= 2 else float(xs[0])


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the gateway JVM")


def stored_bytes(run) -> int:
    names = ("observations", "code_implementations", "tests")
    return sum(dir_bytes(run.table_dir(n) / "data") for n in names)


def end_to_end(run, rss_mb: float) -> tuple[dict, dict]:
    """(metrics for BENCHMARK.json, the fuller per-workload report)."""
    s = run.samples
    if run.workload == "ingest_and_serve":
        ingest_rate, commit = s["ingest_rows_per_s"], s["commit_ms"]
    else:  # the bulk loads of the set-ups
        ingest_rate, commit = s["bulk_rows_per_s"], s["bulk_commit_ms"]
    stored = stored_bytes(run) / run.input_bytes
    m = {
        "setup_s": (median(s["setup_s"]), "s"),
        "request_p50_ms": (median(s["request_ms"]), "ms"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
    }
    counts = (len(s["setup_s"]), len(s["request_ms"]), 1)
    report = {k: (v, u, n) for (k, (v, u)), n in zip(m.items(), counts)}
    report["ingest_rows_per_s"] = (median(ingest_rate), "rows/s", len(ingest_rate))
    report["commit_p50_ms"] = (median(commit), "ms", len(commit))
    report["error_rate"] = (run.failed / max(1, run.attempted), "share", run.attempted)
    report["jvm_peak_rss_mb"] = (rss_mb, "MB", 1)
    if run.workload == "interactive_queries":
        for name, fam in (
            ("srm_view_p50_ms", "srm_output_view"),
            ("clustering_p50_ms", "behavioral_clustering"),
            ("consensus_p50_ms", "consensus_oracle"),
            ("three_way_join_p50_ms", "three_way_join"),
        ):
            if s[f"{fam}_ms"]:
                report[name] = (median(s[f"{fam}_ms"]), "ms", len(s[f"{fam}_ms"]))
        report["query_p95_ms"] = (_p95(s["request_ms"]), "ms", len(s["request_ms"]))
    elif run.workload == "ingest_and_serve":
        for name in ("fresh_read", "mv_refresh", "mv_serve"):
            xs = s[f"{name}_ms"]
            report[f"{name}_p50_ms"] = (median(xs), "ms", len(xs))
    else:
        report["batch_rows_per_s"] = (
            sum(s["request_rows"]) / (sum(s["request_ms"]) / 1000),
            "rows/s",
            len(s["request_ms"]),
        )
    return m, report


def per_layer(run, tr, cores: int) -> tuple[dict, dict]:
    """(per-layer metrics for BENCHMARK.json, the fuller traced report)."""
    s = run.samples

    def in_requests(prefix: str) -> list:
        return [x for x in tr.named(prefix) if x.request is not None]

    measured = [x for x in tr.spans if x.name.startswith("client.") and x.name != "client.setup"]
    n_req = len(measured)
    total = tr.total(measured)
    # the observations commits behind commit_p50_ms: per step where the
    # workload appends inside requests, else the bulk loads of the set-ups
    commits = [a for a in tr.named("transaction.append") if a.attrs["table"] == "observations"]
    commits = [a for a in commits if a.request is not None] or commits
    # warm-up and verification queries run outside requests
    fetches = in_requests("spark.execute_fetch.")
    fetch_rows = sum(x.attrs.get("result_rows", 0) for x in fetches)
    fetch_c = tr.total(fetches)
    opens = s["table_open_ms"]
    open_start, open_end = run.table_open_probe()
    manifest = run.manifest("observations")
    m = {
        "session.start_s": (median(s["session_start_s"]), "s"),
        "lakehouse.bulk_load_s": (median(s["bulk_load_s"]), "s"),
        "lakehouse.table_open_ms": (median(opens), "ms"),
        "lakehouse.table_open_growth": (open_end / open_start, "ratio"),
        "transaction.append_ms": (median([a.ms for a in commits]), "ms"),
        "transaction.append_job_ms": (median([tr.groups[f"s{a.id}"].job_ms for a in commits]), "ms"),
        "transaction.append_driver_ms": (
            median([a.ms - tr.groups[f"s{a.id}"].job_ms for a in commits]),
            "ms",
        ),
        "transaction.snapshot_files": (run.files_at_end, "count"),
        "transaction.snapshot_files_growth": (run.files_at_end / run.files_at_start, "ratio"),
        "transaction.manifest_bytes": (manifest.stat().st_size, "bytes"),
        "transaction.bytes_written_per_input_byte": (run.bytes_written / run.input_bytes, "ratio"),
        "operators.build_ms": (median([x.ms for x in in_requests("operators.build.")]), "ms"),
        "spark.plan_ms": (median([x.ms for x in in_requests("spark.plan.")]), "ms"),
        "spark.execute_fetch_ms": (median([x.ms for x in fetches]), "ms"),
        "spark.jobs_per_request": (total.jobs / n_req, "count"),
        "spark.tasks_per_request": (total.tasks / n_req, "count"),
        "spark.input_rows_per_result_row": (fetch_c.input_rows / max(1, fetch_rows), "ratio"),
        "spark.busy_share": (
            total.run_ms / (sum(x.ms for x in measured) * cores),
            "share",
        ),
        "spark.shuffle_write_bytes_per_request": (total.shuffle_write_bytes / n_req, "bytes"),
        "spark.spill_bytes_per_request": (total.spill_bytes / n_req, "bytes"),
        "spark.executor_cpu_ms_per_request": (total.cpu_ms / n_req, "ms"),
        "trace.overhead_ms": (tr.request_overhead_s * 1000 / n_req, "ms"),
    }

    report: dict[str, tuple] = {}
    for prefix, key in (
        ("operators.build.", "operators.build_ms"),
        ("spark.plan.", "spark.plan_ms"),
        ("spark.execute_fetch.", "spark.execute_fetch_ms"),
    ):
        by_family: dict[str, list[float]] = {}
        for x in in_requests(prefix):
            by_family.setdefault(x.name[len(prefix):], []).append(x.ms)
        for fam, xs in sorted(by_family.items()):
            report[f"{key}.{fam}"] = (median(xs), "ms", len(xs))
    if run.workload == "ingest_and_serve":
        steps = [x for x in measured if x.name == "client.ingest_step"]
        report["ingest.shuffle_write_bytes_per_row"] = (
            tr.total(commits).shuffle_write_bytes / sum(s["request_rows"]),
            "bytes",
            len(commits),
        )
        refreshes = in_requests("plans.result_mv.refresh")
        report["plans.result_mv.refresh_ms"] = (median([x.ms for x in refreshes]), "ms", len(refreshes))
        report["plans.result_mv.jobs_per_refresh"] = (
            tr.total(refreshes).jobs / (len(refreshes) * len(run.mvs)),
            "count",
            len(refreshes),
        )
        report["plans.result_mv.touched_share"] = (
            sum(x.attrs["touched"] for x in refreshes) / max(1, sum(x.attrs["rewritten"] for x in refreshes)),
            "ratio",
            len(refreshes),
        )
        report["transaction.snapshot_files.start"] = (run.files_at_start, "count", 1)
        report["transaction.commits"] = (run.lh.snapshot_table("observations").latest_version(), "count", len(steps))
    serves = in_requests("plans.result_mv.serve")
    if serves:
        report["plans.result_mv.serve_ms"] = (median([x.ms for x in serves]), "ms", len(serves))
    builds: dict[str, list] = {}
    for x in tr.named("plans.result_mv.full_build."):
        builds.setdefault(x.name.rsplit(".", 1)[-1], []).append(x)
    for fam, xs in sorted(builds.items()):
        cs = [tr.total([x]) for x in xs]
        n = len(xs)
        report[f"plans.result_mv.full_build_s.{fam}"] = (median([x.ms / 1000 for x in xs]), "s", n)
        report[f"spark.shuffle_write_bytes.{fam}"] = (median([c.shuffle_write_bytes for c in cs]), "bytes", n)
        report[f"spark.spill_bytes.{fam}"] = (median([c.spill_bytes for c in cs]), "bytes", n)
        report[f"spark.executor_cpu_ms.{fam}"] = (median([c.cpu_ms for c in cs]), "ms", n)
    report["lakehouse.table_open_ms.start_snapshot"] = (open_start, "ms", 5)
    report["lakehouse.table_open_ms.end_snapshot"] = (open_end, "ms", 5)
    for layer, ms in sorted(tr.self_ms([x for x in tr.spans if x.request is not None]).items()):
        report[f"self_ms.{layer}"] = (ms, "ms", n_req)
    report["self_ms.measured_requests"] = (sum(x.ms for x in measured), "ms", n_req)
    return m, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The program lives beside this directory; Spark's Python workers (the
    # ingest hash UDF) import it too.
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    try:
        import observation_lakehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    cores = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # local[<cores>], session as shipped
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    results = HERE / ".results"
    results.mkdir(exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Keep every scratch file (shuffle, spills, JVM and Python temp files)
    # inside the working directory.
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"

    tracer = Tracer() if args.trace else NullTracer()
    run = Run(args.workload, args.seed, args.seconds, tracer, work)
    t0 = time.perf_counter()
    try:
        run.run()
        rss = jvm_peak_rss_mb(run.spark)
        tracer.finish()
        if args.trace:
            metrics, report = per_layer(run, tracer, cores)
            tracer.dump(str(results / f"spans-{args.workload}-{args.seed}.jsonl"))
            untraced = results / f"result-{args.workload}-{args.seed}-trace0.json"
            if untraced.exists():
                base = json.loads(untraced.read_text())["metrics"]["request_p50_ms"]["value"]
                traced = median(run.samples["request_ms"])
                report["trace.overhead_vs_untraced_ms"] = (traced - base, "ms", 1)
        else:
            metrics, report = end_to_end(run, rss)
    finally:
        if run.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            run.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = None
        shutil.rmtree(work, ignore_errors=True)

    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "wall_s": time.perf_counter() - t0,
        "report": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in report.items()},
    }
    (results / f"result-{args.workload}-{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**summary, **out}, indent=1)
    )
    print(json.dumps(summary))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
