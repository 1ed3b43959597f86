"""The benchmark workloads and their output checks.

Every workload drives ``jsonld_spark`` through its public functions and
checks each output against an independent evaluation: the pure
``jsonld_spark.core`` for builds and upserts, DuckDB for SPARQL and for
the curation operators' ``oracle_sql()`` rows.

A workload has six steps: ``setup`` (input generation, a first read of
the inputs on a started session and a warm-up; timed as set-up),
``prepare_checks`` (untimed expectations), ``measure`` (whole cycles of
the closed loop, one client), ``trace_overhead`` (traced runs: the main
operation rerun untraced), ``after_measure`` (untimed counts for the
traced run) and ``payload_rows`` (the JSON-LD documents the pure-core
layer metrics sample).

Every workload warms up in set-up, so its measured operations run in a
warm JVM: a cold build or curation pass takes about twice as long as a
warm one, and the difference, JIT and first-job costs, varies from run
to run with the load on the host and would bury the work being measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
import sparql_templates

TRIPLE_COLS = ["doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
               "obj_datatype", "obj_lang"]
ASSOCIATED_MEDIA = "http://schema.org/associatedMedia"


class CheckFailed(AssertionError):
    """An operation's output differs from its independent evaluation."""


def force(df) -> None:
    """Run every column of ``df`` through Spark's no-op sink."""
    df.write.format("noop").mode("overwrite").save()


def median_or_none(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def geomean_or_none(values: list[float]) -> float | None:
    return statistics.geometric_mean(values) if values else None


# ---------------------------------------------------------------------------
# pure-core expectation of a built graph
# ---------------------------------------------------------------------------

def _is_bnode_row(r: tuple) -> bool:
    return (r[1].startswith("_:") or r[2].startswith("_:")
            or r[4] == "bnode")


def _row_hash(r: tuple) -> int:
    key = "\x1f".join("\x00" if v is None else v for v in r)
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8)
                          .digest(), "little")


def digest(rows: Counter) -> dict:
    """Order-independent summary of a triple multiset: total rows, and
    count plus hash-sum of the rows that name no blank node (blank-node
    labels depend on the labelling scheme, not on the content)."""
    total = n = h = 0
    for r, c in rows.items():
        total += c
        if not _is_bnode_row(r):
            n += c
            h = (h + c * _row_hash(r)) % (1 << 64)
    return {"rows": total, "named_rows": n, "named_digest": h}


def expected_doc_rows(row: dict) -> tuple[list[tuple] | None, list[tuple]]:
    """(triples, media triples) the pipeline must emit for one interleaved
    row, blank nodes labelled per document. Triples are ``None`` for a
    per-document error; its media triples are still emitted."""
    from jsonld_spark.core.rdf import document_to_quads

    payload, refs = gen.assembled(row)
    doc_id = row["doc_id"]
    media = [(doc_id, "@default", gen.DOC_IRI + doc_id[4:], ASSOCIATED_MEDIA,
              "iri", ref, None, None) for ref in refs]
    try:
        quads = document_to_quads(json.loads(payload))
    except Exception:  # noqa: BLE001 - malformed payloads are expected
        return None, media
    tag = f"_:d{doc_id}."

    def fix(v: str) -> str:
        return tag + v[2:] if v.startswith("_:") else v
    rows = [(doc_id, fix(q.graph), fix(q.subj), q.pred, q.obj_kind,
             fix(q.obj_value) if q.obj_kind == "bnode" else q.obj_value,
             q.obj_datatype, q.obj_lang) for q in quads]
    return rows, media


def expected_graph(rows: list[dict], link: bool) -> tuple[Counter, int]:
    """(triple multiset, error-doc count) of a build over ``rows``: dedup
    per document, then — with ``link`` — owl:sameAs components rewritten
    to their least IRI member and the sameAs triples dropped."""
    out: Counter = Counter()
    errors = 0
    for row in rows:
        doc_rows, media = expected_doc_rows(row)
        if doc_rows is None:
            errors += 1
            doc_rows = []
        out.update(set(doc_rows) | set(media))
    if not link:
        return out, errors
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for r in out:
        if r[3] == gen.OWL_SAMEAS and r[4] == "iri":
            a, b = find(r[2]), find(r[5])
            if a != b:
                parent[max(a, b)] = min(a, b)
    linked: Counter = Counter()
    for r, c in out.items():
        if r[3] == gen.OWL_SAMEAS:
            continue
        obj = find(r[5]) if r[4] == "iri" else r[5]
        linked[(r[0], r[1], find(r[2]), r[3], r[4], obj, r[6], r[7])] += c
    return linked, errors


def read_triples(out_dir: str) -> Counter:
    table = pq.read_table(f"{out_dir}/triples", columns=TRIPLE_COLS)
    cols = [table.column(c).to_pylist() for c in TRIPLE_COLS]
    return Counter(zip(*cols))


def _erase_bnodes(rows: Counter) -> Counter:
    """Blank-node rows with their labels erased: the shape of the
    blank-node part of a graph, independent of the labelling."""
    out: Counter = Counter()
    for r, c in rows.items():
        if _is_bnode_row(r):
            out[tuple("_:" if (v or "").startswith("_:") else v
                      for v in r)] += c
    return out


def audit_manifests(spark, out_dir: str, what: str) -> None:
    """Every bucket of the stored graph audits ``ok``."""
    from jsonld_spark.operators.materialize import verify_manifests

    bad = [r["part"] for r in verify_manifests(spark, out_dir).collect()
           if r["status"] != "ok"]
    if bad:
        raise CheckFailed(f"{what}: verify_manifests not ok for parts {bad}")


def check_graph(spark, out_dir: str, expected: Counter, what: str) -> Counter:
    """Every bucket audits ``ok`` and the stored triples equal
    ``expected``; returns the stored triples."""
    audit_manifests(spark, out_dir, what)
    actual = read_triples(out_dir)
    got, want = digest(actual), digest(expected)
    if got != want:
        raise CheckFailed(f"{what}: graph digest {got} != expected {want}")
    if _erase_bnodes(actual) != _erase_bnodes(expected):
        raise CheckFailed(f"{what}: blank-node rows differ from expected")
    return actual


def files_digest(path: str) -> str:
    """sha256 over the relative path and bytes of every file under
    ``path``: equal digests mean byte-identical trees."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(d, f)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def store_bytes(out_dir: str) -> int:
    """Bytes of the stored graph: triples, doc index and manifests."""
    return sum(_dir_bytes(f"{out_dir}/{sub}")
               for sub in ("triples", "doc_index", "manifests"))


# ---------------------------------------------------------------------------
# the deliverable job: run_pipeline's stage sequence
# ---------------------------------------------------------------------------

def run_build(b, input_path: str, out_dir: str, resume: bool,
              n_buckets: int) -> dict:
    """scan → assemble → extract → c14n → link → bucketed write, the
    stage sequence of scripts/run_pipeline.py --canonicalize
    --link-sameas. With tracing on, each lazy stage's output is also
    cached and forced through the no-op sink inside its span, so every
    span holds its own stage's work and none re-runs an earlier one."""
    from pyspark.sql import functions as F

    from jsonld_spark.operators.canonicalize import canonicalize_triples
    from jsonld_spark.operators.linking import (connected_components,
                                                link_triples)
    from jsonld_spark.operators.materialize import materialize_graph
    from jsonld_spark.operators.pipeline import extract_quads
    from jsonld_spark.sources.interleaved import assemble_documents

    tr, spark = b.tracer, b.spark
    interleaved = spark.read.parquet(input_path)
    with tr.span("interleaved.assemble"):
        assembled = b.prefix(assemble_documents(interleaved))
    with tr.span("pipeline.extract"):
        quads = extract_quads(assembled, include_media=True).persist()
        b.prefix(quads)
    try:
        with tr.span("pipeline.errors"):
            n_errors = quads.where(F.col("error").isNotNull()).count()
        with tr.span("pipeline.dedup"):
            triples = b.prefix(quads.where(F.col("error").isNull())
                               .drop("error").dropDuplicates())
        with tr.span("canonicalize"):
            triples = b.prefix(canonicalize_triples(triples))
        with tr.span("linking") as sp:
            edges = (triples.where(F.col("pred") == gen.OWL_SAMEAS)
                     .where(F.col("obj_kind") == "iri")
                     .select(F.col("subj").alias("src"),
                             F.col("obj_value").alias("dst")))
            comps = connected_components(edges)
            triples = b.prefix(link_triples(triples, comps)
                               .where(F.col("pred") != gen.OWL_SAMEAS))
        if sp is not None:  # traced: counts outside the span
            sp["attrs"]["edges"] = edges.count()
            sp["attrs"]["components"] = \
                comps.select("component").distinct().count()
        with tr.span("materialize.resume" if resume else "materialize.write"):
            metrics = materialize_graph(triples, out_dir, n_buckets=n_buckets,
                                        run_id="bench", resume=resume,
                                        input_id=input_path)
    finally:
        quads.unpersist()
    metrics["errors"] = int(n_errors)
    return metrics


# ---------------------------------------------------------------------------
# build_serve
# ---------------------------------------------------------------------------

class BuildServeWorkload:
    """One cycle builds, resumes and serves a rich graph:

    * run_pipeline --canonicalize --link-sameas into a fresh directory;
    * a no-op resume rerun over the committed output;
    * closed-loop serving, one client: rounds of every SPARQL template
      once, each round in a seeded order with seeded constants, then one
      upsert batch through run_pipeline --upsert's path (extract and
      replace, no linking).

    Builds, the resume and upserts are checked against the pure core,
    queries against DuckDB over the stored parquet."""

    def __init__(self, size: dict):
        self.size = size
        self.cycle = 0

    def setup(self, b) -> dict:
        shares = gen.generate("rich", b.seed, b.input_dir, self.size)
        self.input = f"{b.input_dir}/interleaved.parquet"
        force(b.spark.read.parquet(self.input))
        self._warm_up(b)
        return shares

    def _warm_up(self, b) -> None:
        """Build a small graph of its own and run every SPARQL template
        once over it, unchecked: the JVM's JIT, Spark's generated code and
        the Python workers are then warm for the measured cycle. The
        resume and the upsert take as long cold as warm, so they are left
        out."""
        from jsonld_spark.operators.materialize import read_graph
        from jsonld_spark.operators.sparql import sparql_query

        rng = random.Random(f"warm-up:{b.seed}")
        n_docs = self.size["warm_docs"]
        path = f"{b.work}/warm-up/interleaved.parquet"
        out = f"{b.work}/warm-up/graph"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen.write_table(gen.rich_rows(rng, n_docs,
                                      self.size["malformed_share"]),
                        gen.INTERLEAVED_SCHEMA, path)
        run_build(b, path, out, resume=False, n_buckets=self.size["buckets"])
        triples = read_graph(b.spark, out)
        for name in sorted(sparql_templates.TEMPLATES):
            sparql, _ = sparql_templates.TEMPLATES[name](rng, n_docs)
            force(sparql_query(triples, sparql))
        shutil.rmtree(f"{b.work}/warm-up", ignore_errors=True)

    def prepare_checks(self, b) -> None:
        self.rows = pq.read_table(self.input).to_pylist()
        self.built, self.errors = expected_graph(self.rows, link=True)
        self.con = duckdb.connect()

    def payload_rows(self) -> list[dict]:
        return self.rows

    def measure(self, b, deadline: float) -> dict:
        times = {"build": [], "resume": [], "query": [], "upsert": []}
        cycles, store, per_template = [], [], {}
        while True:
            self.cycle += 1
            out = f"{b.work}/graph-{self.cycle}"
            before = sum(len(v) for v in times.values())
            spent = sum(map(sum, times.values()))
            self._cycle(b, out, times, store, per_template)
            if sum(len(v) for v in times.values()) > before:
                cycles.append(sum(map(sum, times.values())) - spent)
            shutil.rmtree(out, ignore_errors=True)
            if time.perf_counter() >= deadline:
                break
        build_p50 = median_or_none(times["build"])
        q = sorted(times["query"])
        tail_p, tail = tail_percentile(q)
        report = {
            "build_docs_per_s": (len(self.rows) / build_p50
                                 if build_p50 else None),
            "resume_s": median_or_none(times["resume"]),
            "store_bytes_per_triple": median_or_none(store),
            "query_p50_s": median_or_none(q),
            "query_tail_s": tail, "query_tail_percentile": tail_p,
            "queries": len(q),
            "upsert_p50_s": median_or_none(times["upsert"]),
            "buckets_touched_per_upsert":
                median_or_none(b.counts.get("upsert_buckets", [])),
            "query_p50_s_by_template": {k: statistics.median(v) for k, v
                                        in sorted(per_template.items())},
            "op_s": times,
        }
        b.counts["error_docs"] = self.errors
        return {"report": report,
                "e2e": {"docs_per_s": report["build_docs_per_s"],
                        "op_geomean_s": geomean_or_none(
                            [t for v in times.values() for t in v]),
                        "cycle_s": median_or_none(cycles)}}

    def _cycle(self, b, out: str, times: dict, store: list,
               per_template: dict) -> None:
        from jsonld_spark.operators.materialize import read_graph

        n_buckets = self.size["buckets"]
        m = b.op("build", lambda: run_build(
            b, self.input, out, resume=False,
            n_buckets=n_buckets), times["build"])
        if m is None or not b.check(
                "build", lambda: self._check_build(b, out, m, pending=True)):
            return
        store.append(store_bytes(out) / sum(self.built.values()))
        r = b.op("resume", lambda: run_build(
            b, self.input, out, resume=True,
            n_buckets=n_buckets), times["resume"])
        if r is not None:
            b.check("resume",
                    lambda: self._check_build(b, out, r, pending=False))
        self.out, self.expected = out, Counter(self.built)
        self.triples = read_graph(b.spark, out)
        rng = random.Random(f"serve:{b.seed}:{self.cycle}")
        names = sorted(sparql_templates.TEMPLATES)
        mix = [n for _ in range(self.size["query_rounds"])
               for n in rng.sample(names, len(names))]
        for name in mix:
            sparql, sql = sparql_templates.TEMPLATES[name](
                rng, self.size["docs"])
            t = []
            df = b.op("query", lambda: self._query(b, sparql), t)
            if df is None:
                continue
            times["query"] += t
            per_template.setdefault(name, []).extend(t)
            b.check("query", lambda: self._check_query(b, df, sql, name))
        batch = self._batch(b, rng.sample(range(self.size["docs"]),
                                          self.size["upsert_docs"]))
        u = b.op("upsert", lambda: self._upsert(b, batch), times["upsert"])
        if u is not None:
            b.check("upsert", lambda: self._check_upsert(b, batch, u))

    def _check_build(self, b, out: str, m: dict, pending: bool) -> bool:
        """A build stores the expected graph. A resume rerun writes no row,
        every bucket still audits ``ok``, and the stored triples are
        byte-identical to those of the checked build."""
        if m["errors"] != self.errors:
            raise CheckFailed(f"error docs {m['errors']} != {self.errors}")
        if pending != (m["pending"] > 0) or (not pending and m["rows"]):
            raise CheckFailed(f"unexpected materialize metrics {m}")
        if not pending:
            audit_manifests(b.spark, out, "resume")
            if files_digest(f"{out}/triples") != self.checked_files:
                raise CheckFailed("resume: stored triples changed")
            return True
        actual = check_graph(b.spark, out, self.built, "build")
        self.checked_files = files_digest(f"{out}/triples")
        b.counts["bytes_written"] = _dir_bytes(f"{out}/triples")
        b.counts["bnodes"] = len({v for r in actual for v in (r[2], r[5])
                                  if v.startswith("_:")})
        return True

    def _query(self, b, text: str):
        from jsonld_spark.operators.sparql import sparql_query

        with b.tracer.span("sparql.compile"):
            df = sparql_query(self.triples, text)
        with b.tracer.span("sparql.exec"):
            force(df)
        return df

    def _check_query(self, b, df, sql: str, name: str) -> None:
        got = Counter(tuple(None if v is None else str(v) for v in r)
                      for r in df.collect())
        self.con.execute("CREATE OR REPLACE VIEW t AS SELECT * FROM "
                         f"read_parquet('{self.out}/triples/*/*.parquet')")
        want = Counter(tuple(None if v is None else str(v) for v in r)
                       for r in self.con.execute(sql).fetchall())
        if got != want:
            raise CheckFailed(f"query {name}: {sum(got.values())} rows "
                              f"differ from DuckDB's {sum(want.values())}")
        b.counts.setdefault("query_rows", []).append(sum(got.values()))

    def _batch(self, b, ids: list[int]) -> list[dict]:
        """New versions of the documents ``ids``, written as an
        interleaved parquet batch (input generation, untimed)."""
        rng = random.Random(f"upsert:{b.seed}:{self.cycle}")
        rows = gen.rich_rows(rng, self.size["docs"], 0.0,
                             version=self.cycle, ids=ids)
        self.batch_path = f"{b.input_dir}/upsert-{self.cycle}.parquet"
        gen.write_table(rows, gen.INTERLEAVED_SCHEMA, self.batch_path)
        return rows

    def _upsert(self, b, batch: list[dict]) -> dict:
        """run_pipeline --upsert: extract the batch and replace those
        documents' triples in the stored graph."""
        from pyspark.sql import functions as F

        from jsonld_spark.operators.materialize import upsert_documents
        from jsonld_spark.operators.pipeline import extract_quads
        from jsonld_spark.sources.interleaved import assemble_documents

        tr = b.tracer
        with tr.span("interleaved.assemble"):
            assembled = b.prefix(assemble_documents(
                b.spark.read.parquet(self.batch_path)))
        with tr.span("pipeline.extract"):
            quads = b.prefix(extract_quads(assembled, include_media=True))
        with tr.span("pipeline.dedup"):
            triples = b.prefix(quads.where(F.col("error").isNull())
                               .drop("error").dropDuplicates())
        with tr.span("materialize.upsert"):
            return upsert_documents(triples, self.out,
                                    run_id=f"u{self.cycle}")

    def _check_upsert(self, b, batch: list[dict], m: dict) -> None:
        changed = {r["doc_id"] for r in batch}
        old = sum(c for r, c in self.expected.items() if r[0] in changed)
        expected = Counter({r: c for r, c in self.expected.items()
                            if r[0] not in changed})
        new, _ = expected_graph(batch, link=False)
        expected.update(new)
        check_graph(b.spark, self.out, expected, "upsert")
        self.expected = expected
        b.counts.setdefault("upsert_buckets", []).append(m["affected"])
        b.counts.setdefault("upsert_rewrite_ratio", []).append(
            m["rows"] / max(1, old + sum(new.values())))

    def trace_overhead(self, b, traced: dict) -> float | None:
        """Build once more, untraced and checked; the traced cycle's build
        wall time minus this one. The build is the operation whose tracing
        adds work (forced and cached stage prefixes)."""
        out = f"{b.work}/graph-untraced"
        t: list[float] = []
        m = b.op("build", lambda: run_build(
            b, self.input, out, resume=False,
            n_buckets=self.size["buckets"]), t)
        if m is not None:
            b.check("build",
                    lambda: self._check_build(b, out, m, pending=True))
        shutil.rmtree(out, ignore_errors=True)
        if not t or not traced["op_s"]["build"]:
            return None
        return traced["op_s"]["build"][0] - t[0]

    def after_measure(self, b) -> None:
        self.con.close()


def tail_percentile(sorted_vals: list[float]) -> tuple[float | None,
                                                       float | None]:
    """The highest percentile with at least ten samples beyond it, and its
    value; ``(None, None)`` below eleven samples."""
    n = len(sorted_vals)
    if n < 11:
        return None, None
    k = n - 11  # index with exactly ten samples above it
    return round(100.0 * (k + 1) / n, 2), sorted_vals[k]


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

CURATE_ROWS = ("curate_corpus", "minhash_pairs", "embedding_clusters")


class CurateWorkload:
    """One cycle is ``passes`` curation passes; a pass runs the
    ``curate_corpus``, ``minhash_pairs`` and ``embedding_clusters`` rows
    of ``__spark_entry__.queries()`` over the generated tables, each
    checked against its ``oracle_sql()`` row in DuckDB."""

    def __init__(self, size: dict):
        self.size = size

    def setup(self, b) -> dict:
        import __spark_entry__ as E

        shares = gen.generate("curate", b.seed, b.input_dir, self.size)
        self.queries = {k: E.queries()[k] for k in CURATE_ROWS}
        for t in ("documents", "embeddings"):
            force(b.spark.read.parquet(f"{b.input_dir}/{t}.parquet"))
        # warm-up: every row once over the same tables, unchecked
        for k in CURATE_ROWS:
            self._run(b, k)
        return shares

    def prepare_checks(self, b) -> None:
        import __spark_entry__ as E

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{b.input_dir}/{t}.parquet'")
        self.want = {k: _canon_rows(con.execute(E.oracle_sql()[k]).df())
                     for k in CURATE_ROWS}
        con.close()

    def payload_rows(self) -> list[dict]:
        return []

    def measure(self, b, deadline: float) -> dict:
        passes, per_row, cycles = [], {k: [] for k in CURATE_ROWS}, []
        while True:
            spent = sum(passes)
            for _ in range(self.size["passes"]):
                total = 0.0
                for k in CURATE_ROWS:
                    t = []
                    df = b.op(k, lambda: self._run(b, k), t)
                    if df is None or not b.check(
                            k, lambda: self._check(k, df)):
                        break
                    total += t[0]
                    per_row[k] += t
                else:
                    passes.append(total)
            cycles.append(sum(passes) - spent)
            if time.perf_counter() >= deadline:
                break
        pass_p50 = median_or_none(passes)
        report = {"curate_docs_per_s": (self.size["docs"] / pass_p50
                                        if pass_p50 else None),
                  "pass_s": passes,
                  **{f"{k}_p50_s": median_or_none(v)
                     for k, v in per_row.items()}}
        return {"report": report,
                "e2e": {"docs_per_s": report["curate_docs_per_s"],
                        "op_geomean_s": geomean_or_none(
                            [t for v in per_row.values() for t in v]),
                        "cycle_s": median_or_none(cycles)}}

    def _run(self, b, k: str):
        df = self.queries[k](b.spark, b.input_dir)
        force(df)
        return df

    def trace_overhead(self, b, traced: dict) -> float | None:
        """Run the ``curate_corpus`` row once more, untraced and checked;
        the traced cycle's median time of that row minus this one."""
        k = "curate_corpus"
        t: list[float] = []
        df = b.op(k, lambda: self._run(b, k), t)
        if df is not None:
            b.check(k, lambda: self._check(k, df))
        if not t or traced[f"{k}_p50_s"] is None:
            return None
        return traced[f"{k}_p50_s"] - t[0]

    def _check(self, k: str, df) -> bool:
        got = _canon_rows(df.toPandas())
        if got != self.want[k]:
            raise CheckFailed(f"{k}: {len(got) - 1} rows differ from the "
                              f"oracle's {len(self.want[k]) - 1}")
        return True

    def after_measure(self, b) -> None:
        """Pair yields of the two candidate generators and the funnel's
        kept share, from the checked outputs and the generated inputs
        (traced runs only)."""
        if not b.trace:
            return
        docs = pq.read_table(f"{b.input_dir}/documents.parquet").to_pylist()
        text = {d["doc_id"]: d["text"] for d in docs}
        pairs = self.want["minhash_pairs"][1:]
        cols = self.want["minhash_pairs"][0]
        ia, ib = cols.index("id_a"), cols.index("id_b")
        verified = sum(_jaccard(text[int(p[ia])], text[int(p[ib])]) >= 0.5
                       for p in pairs)
        b.counts["minhash_candidates"] = len(pairs)
        b.counts["minhash_verified"] = verified
        b.counts["kept_ratio"] = (len(self.want["curate_corpus"]) - 1) \
            / len(docs)
        cand, ver = _lsh_pairs(b.spark, f"{b.input_dir}/embeddings.parquet")
        b.counts["lsh_candidates"] = cand
        b.counts["lsh_verified"] = ver


def _jaccard(a: str, b: str, k: int = 5) -> float:
    sa = {a[i:i + k] for i in range(max(1, len(a) - k + 1))}
    sb = {b[i:i + k] for i in range(max(1, len(b) - k + 1))}
    return len(sa & sb) / len(sa | sb)


def _lsh_pairs(spark, path: str) -> tuple[int, int]:
    """(candidate pairs, verified pairs) of the ``embedding_clusters``
    row's banded hyperplane LSH, from the engine's own functions with the
    row's planes and bands: candidates share a (band, bucket) of
    ``lsh_bucket_arrays``; verified pairs are ``embedding_neardup``'s."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from jsonld_spark.operators.similarity import (embedding_neardup,
                                                   lsh_bucket_arrays)

    emb = spark.read.parquet(path)
    planes = E._lsh_planes(E._EMB_PLANES_N)
    banded = lsh_bucket_arrays(emb, planes, E._EMB_BANDS).select(
        "vec_id", F.posexplode("buckets").alias("band", "bucket"))
    cand = (banded.withColumnRenamed("vec_id", "id_a")
            .join(banded.withColumnRenamed("vec_id", "id_b"),
                  ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct().count())
    verified = embedding_neardup(emb, 0.4, planes=planes,
                                 bands=E._EMB_BANDS).count()
    return cand, verified


def _canon_rows(pdf) -> list[tuple]:
    """Column names, then the rows sorted, in column-name order, with
    floats rounded to 9 places — the comparison the oracle gate makes."""
    cols = sorted(pdf.columns)
    out = []
    for rec in pdf[cols].itertuples(index=False):
        out.append(tuple(
            None if v is None or (isinstance(v, float) and np.isnan(v))
            else (round(float(v), 9) if isinstance(v, float) else str(v))
            for v in rec))
    return [tuple(cols)] + sorted(out, key=repr)
