#!/usr/bin/env python3
"""jsonld-spark benchmark: build, query, refresh and curate a knowledge graph.

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. The command generates its inputs from
``--seed`` under ``.perfbench_work/`` in the current directory, starts one
local Spark session (``local[N]``, N = min(4, cores) - 1), sets up and
warms up, measures the workload for ``--seconds`` in a closed loop with
one client, checks every output, and prints a human-readable report
followed by one JSON result line. With ``--trace 1`` it records spans
around each call into a layer and Spark's event log, and reports the
per-layer metrics instead of the end-to-end ones. It exits non-zero if
any operation raised or failed its output check. See perfbench/README.md
for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))

# Why each workload is in the benchmark. One run, JVM launch included,
# takes about a minute on 4 cores, which is what bounds the sizes.
WORKLOADS = {
    # the knowledge-graph lifecycle: run_pipeline --canonicalize
    # --link-sameas over rich JSON-LD (inline @context, nested bnodes,
    # @list, @reverse, @language, sameAs links, @graph docs, malformed
    # payloads), a resume rerun, then SPARQL templates and an upsert over
    # the stored buckets. The kernel, canonicalization, linking, the
    # bucketed write and the query engine all sit on its path. On 4 cores
    # a cold build costs about 15 s of JIT and per-job overhead at any size
    # up to a few thousand documents, which the warm-up (a build of
    # warm_docs documents, priced per job, not per document) takes out of
    # the measured one; 3000 documents is the most the run budget of the
    # benchmark (about 70 s per run) allows.
    "build_serve": {"docs": 3000, "buckets": 16, "malformed_share": 0.03,
                    "query_rounds": 1, "upsert_docs": 5, "warm_docs": 200},
    # the cross-document curation operators (dedup, similarity,
    # textstats, sampling) on documents and embeddings with stated
    # exact/near-duplicate shares; no JSON-LD runs here, so a kernel or
    # storage change predicts no movement. One pass per cycle, after a
    # warm-up pass over the same tables in set-up; the DuckDB oracle of
    # curate_corpus, run once per run, is quadratic in the documents.
    "curate": {"docs": 120, "vecs": 200, "exact_share": 0.05,
               "near_share": 0.1, "vec_near_share": 0.1, "passes": 1},
}

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "op_geomean_s": "s",
              "cycle_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "interleaved.assemble_s": "s",
    "core.to_rdf_us_per_doc": "us", "core.normalize_us_per_doc": "us",
    "core.quads_per_doc": "count",
    "pipeline.extract_s": "s", "pipeline.dedup_s": "s",
    "pipeline.python_s": "s", "pipeline.arrow_bytes_in": "B",
    "pipeline.arrow_bytes_out": "B", "pipeline.error_docs": "count",
    "canonicalize.s": "s", "canonicalize.bnodes": "count",
    "canonicalize.jobs": "count", "canonicalize.shuffle_bytes": "B",
    "linking.s": "s", "linking.edges": "count",
    "linking.components": "count", "linking.jobs": "count",
    "materialize.write_s": "s", "materialize.bytes_written": "B",
    "materialize.resume_s": "s", "materialize.upsert_s": "s",
    "materialize.upsert_rows_rewritten_per_row_changed": "ratio",
    "materialize.upsert_buckets_rewritten": "count",
    "sparql.compile_s": "s", "sparql.exec_s": "s",
    "sparql.rows_out": "count", "sparql.bytes_scanned_per_row": "B/row",
    "dedup.minhash_s": "s", "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "similarity.clusters_s": "s", "similarity.candidate_pairs": "count",
    "similarity.pair_yield": "ratio",
    "sampling.curate_s": "s", "sampling.kept_ratio": "ratio",
    "trace.overhead_s": "s",
}


def _configure_environment(work: str, cpus: int,
                           event_log: str | None) -> None:
    """Keep Spark, the JVM and Python temp files inside the work dir and
    size the session before the JVM starts."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # glibc's default of 8 malloc arenas per core let the JVM's native
    # memory, and so the measured RSS, swing between 1.4 and 2.9 GB across
    # identical runs; 4 arenas is the value Hadoop sets for its JVMs
    os.environ["MALLOC_ARENA_MAX"] = "4"
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    submit = ["--conf", f"spark.local.dir={work}/spark-local"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir={event_log}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile
    tempfile.tempdir = tmp


class Bench:
    """One benchmark run: session, tracer, operation accounting."""

    def __init__(self, args, work: str):
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.work = work
        # enabled only for the traced cycle of a --trace 1 run
        self.tracer = Tracer(False, f"{args.workload}-{args.seed}")
        self.trace = bool(args.trace)
        self.spark = None
        self.input_dir = f"{work}/input"
        self._prefixes: list = []
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.counts: dict = {}

    # -- session --------------------------------------------------------
    def start_session(self) -> float:
        """Launch the JVM and start the session with ``get_spark``; returns
        the time it took."""
        t0 = time.perf_counter()
        from jsonld_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.range(1).collect()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - fall back to a kill
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_children(timeout=30)

    # -- operations -----------------------------------------------------
    def prefix(self, df):
        """Traced runs only: cache a lazy stage's output and force it
        through the no-op sink, so the stage's span holds its own work and
        the next stage reads the cache instead of re-running this one.
        Untraced runs get ``df`` back untouched."""
        if not self.tracer.enabled:
            return df
        from workloads import force

        if not df.is_cached:
            df = df.persist()
            self._prefixes.append(df)
        force(df)
        return df

    def op(self, kind: str, fn, times: list[float]):
        """Run one timed operation; record its wall time or its failure."""
        self.attempted[kind] += 1
        with self.tracer.span(f"op.{kind}"):
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception:  # noqa: BLE001 - count, report, carry on
                self.failed[kind] += 1
                print(f"[perfbench] {kind} raised:\n{traceback.format_exc()}",
                      file=sys.stderr)
                return None
            finally:
                while self._prefixes:
                    self._prefixes.pop().unpersist()
            times.append(time.perf_counter() - t0)
        return res

    def check(self, kind: str, fn):
        """Run one output check; a failed check fails its operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - count, report, carry on
            self.failed[kind] += 1
            print(f"[perfbench] {kind} check failed:\n"
                  f"{traceback.format_exc()}", file=sys.stderr)
            return None


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rindex(")") + 2:].split()[1]) == pid:
                out.append(int(d))
    return out


def _wait_children(timeout: float) -> None:
    import signal

    deadline = time.monotonic() + timeout
    while True:
        kids = _children(os.getpid())
        if not kids:
            return
        if time.monotonic() >= deadline:
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def make_workload(name: str):
    import workloads as w

    size = WORKLOADS[name]
    if name == "build_serve":
        return w.BuildServeWorkload(size)
    return w.CurateWorkload(size)


def core_metrics(payloads: list[str], seed: int) -> dict:
    """Pure-core cost per document on a seeded sample of the workload's
    payloads (malformed ones skipped)."""
    import random

    from jsonld_spark.core.normalize import normalize_document
    from jsonld_spark.core.rdf import document_to_quads

    docs = []
    sample = random.Random(f"core:{seed}").sample(payloads,
                                                  min(200, len(payloads)))
    for p in sample:
        try:
            document_to_quads(json.loads(p))
        except Exception:  # noqa: BLE001 - malformed by design
            continue
        docs.append(p)
    if not docs:
        return {"core.to_rdf_us_per_doc": 0.0,
                "core.normalize_us_per_doc": 0.0, "core.quads_per_doc": 0.0}
    t0 = time.perf_counter()
    n_quads = sum(len(document_to_quads(json.loads(p))) for p in docs)
    t1 = time.perf_counter()
    for p in docs:
        normalize_document(json.loads(p))
    t2 = time.perf_counter()
    return {"core.to_rdf_us_per_doc": 1e6 * (t1 - t0) / len(docs),
            "core.normalize_us_per_doc": 1e6 * (t2 - t1) / len(docs),
            "core.quads_per_doc": n_quads / len(docs)}


def per_layer_metrics(b: Bench, wl, counters: dict, overhead: float,
                      session_start: float) -> dict:
    """Fold spans, self times and event-log counters into the per-layer
    metrics. A layer the workload never calls reads 0."""
    import gen

    tr = b.tracer
    selfs = tr.self_times()
    by_name: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)

    def med_self(name: str) -> float:
        v = [selfs[s["id"]] for s in by_name.get(name, [])]
        return statistics.median(v) if v else 0.0

    def med_dur(name: str) -> float:
        v = [s["end"] - s["start"] for s in by_name.get(name, [])]
        return statistics.median(v) if v else 0.0

    def total(name: str, key: str) -> float:
        return sum(counters.get(s["id"], {}).get(key, 0)
                   for s in by_name.get(name, []))

    def per_op(name: str, key: str) -> float:
        n = len(by_name.get(name, []))
        return total(name, key) / n if n else 0.0

    link = by_name.get("linking", [])
    payloads = [gen.assembled(r)[0] for r in wl.payload_rows()]
    c = b.counts
    cand_min = c.get("minhash_candidates", 0)
    cand_sim = c.get("lsh_candidates", 0)
    q_rows = c.get("query_rows", [])
    m = {
        "session.start_s": session_start,
        "interleaved.assemble_s": med_self("interleaved.assemble"),
        **core_metrics(payloads, b.seed),
        "pipeline.extract_s": med_self("pipeline.extract"),
        "pipeline.dedup_s": med_self("pipeline.dedup"),
        "pipeline.python_s": per_op("pipeline.extract", "python_ms") / 1e3,
        "pipeline.arrow_bytes_in": per_op("pipeline.extract",
                                          "arrow_bytes_in"),
        "pipeline.arrow_bytes_out": per_op("pipeline.extract",
                                           "arrow_bytes_out"),
        "pipeline.error_docs": c.get("error_docs", 0),
        "canonicalize.s": med_self("canonicalize"),
        "canonicalize.bnodes": c.get("bnodes", 0) if "canonicalize" in by_name
        else 0,
        "canonicalize.jobs": per_op("canonicalize", "jobs"),
        "canonicalize.shuffle_bytes": per_op("canonicalize", "shuffle_bytes"),
        "linking.s": med_self("linking"),
        "linking.edges": link[-1]["attrs"].get("edges", 0) if link else 0,
        "linking.components": link[-1]["attrs"].get("components", 0)
        if link else 0,
        "linking.jobs": per_op("linking", "jobs"),
        "materialize.write_s": med_self("materialize.write"),
        "materialize.bytes_written": c.get("bytes_written", 0),
        "materialize.resume_s": med_self("materialize.resume"),
        "materialize.upsert_s": med_self("materialize.upsert"),
        "materialize.upsert_rows_rewritten_per_row_changed":
            statistics.median(c["upsert_rewrite_ratio"])
            if c.get("upsert_rewrite_ratio") else 0.0,
        "materialize.upsert_buckets_rewritten":
            statistics.median(c["upsert_buckets"])
            if c.get("upsert_buckets") else 0,
        "sparql.compile_s": med_self("sparql.compile"),
        "sparql.exec_s": med_self("sparql.exec"),
        "sparql.rows_out": statistics.median(q_rows) if q_rows else 0,
        "sparql.bytes_scanned_per_row":
            total("sparql.exec", "input_bytes") / max(1, sum(q_rows)),
        "dedup.minhash_s": med_dur("op.minhash_pairs"),
        "dedup.candidate_pairs": cand_min,
        "dedup.pair_yield": (c.get("minhash_verified", 0) / cand_min
                             if cand_min else 0.0),
        "similarity.clusters_s": med_dur("op.embedding_clusters"),
        "similarity.candidate_pairs": cand_sim,
        "similarity.pair_yield": (c.get("lsh_verified", 0) / cand_sim
                                  if cand_sim else 0.0),
        "sampling.curate_s": med_dur("op.curate_corpus"),
        "sampling.kept_ratio": c.get("kept_ratio", 0.0),
        "trace.overhead_s": overhead,
    }
    return m


def run(args, root: str) -> tuple[dict, str]:
    from spans import RssSampler, event_log_counters

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = f"{work}/eventlog" if args.trace else None
    # one core is left to this process, the JVM's JIT and GC threads and
    # the OS: with a task on every core they preempt the tasks, and on 4
    # cores queries and set-up took about 7 % longer (6 paired runs)
    _configure_environment(work, max(1, min(4, os.cpu_count() or 1) - 1),
                           event_log)
    b = Bench(args, work)
    wl = make_workload(args.workload)
    lines = []
    try:
        steal0, total0 = _cpu_jiffies()
        with RssSampler() as rss:
            # set-up = JVM launch and session start, input generation, a
            # first read of the inputs and the workload's warm-up
            t0 = time.perf_counter()
            start = b.start_session()
            shares = wl.setup(b)
            setup = time.perf_counter() - t0
            lines.append({"inputs": {args.workload: shares}})
            t_prep = time.perf_counter()
            wl.prepare_checks(b)
            t0 = time.perf_counter()
            phases = {"prepare_checks_s": t0 - t_prep}
            if b.trace:
                # a cycle is traced, then the workload reruns its main
                # operation untraced: the difference of the two wall times
                # is the overhead
                b.tracer.enabled = True
                b.counts = {}
                result = wl.measure(b, time.perf_counter())
                b.tracer.enabled = False
                overhead = wl.trace_overhead(b, result["report"])
            else:
                result = wl.measure(b, t0 + args.seconds)
            t_after = time.perf_counter()
            wl.after_measure(b)
            phases["after_measure_s"] = time.perf_counter() - t_after
        steal1, total1 = _cpu_jiffies()
        report = result["report"]
        metrics = {"setup_s": setup,
                   **result["e2e"], "peak_rss_mb": rss.peak / 2**20}
        ops = sum(b.attempted.values())
        bad = sum(b.failed.values())
        report.update({"setup_s": metrics["setup_s"],
                       "session_start_s": start,
                       "measured_s": t_after - t0, **phases,
                       "peak_rss_mb": metrics["peak_rss_mb"],
                       "peak_rss_split": rss.peak_split,
                       # CPU time the hypervisor gave other guests: the
                       # main cause of run-to-run spread on a shared host
                       "host_steal_share": (steal1 - steal0)
                       / max(1, total1 - total0),
                       "failed_ops_ratio": bad / ops if ops else 1.0,
                       "attempted_by_kind": dict(b.attempted),
                       "failed_by_kind": dict(b.failed)})
        if b.trace:
            b.spark.stop()
            b.spark = None
            counters = event_log_counters(event_log)
            spans_path = f"{root}/.perfbench_work/spans-{args.workload}-" \
                         f"{args.seed}.jsonl"
            b.tracer.dump(spans_path, counters)
            layer = per_layer_metrics(b, wl, counters, overhead, start)
            lines.append({"spans": os.path.relpath(spans_path, root)})
            out = {k: {"value": layer[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        else:
            out = {k: {"value": metrics[k], "unit": u}
                   for k, u in END_TO_END.items()}
        lines.append({"report": {args.workload: report}})
    finally:
        b.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    correct = (ops > 0 and bad == 0
               and all(v["value"] is not None for v in out.values()))
    result_line = {"correct": correct, "attempted": ops, "failed": bad,
                   "metrics": out}
    return result_line, "\n".join(json.dumps(x) for x in lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, HERE)
    sys.path.insert(1, root)
    # a checkout without the engine cannot run the benchmark: fail before
    # any work, without a result line
    import jsonld_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    result, report = run(args, root)
    print(report)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
