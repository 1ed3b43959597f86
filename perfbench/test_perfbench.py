"""The benchmark's own tests: generator determinism, and a tiny-size smoke
run of every workload with its output checks.

    python -m pytest perfbench -q          # from the repository root

The smoke runs start a local Spark session each (about a minute apiece).
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import types
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "build_serve": {"docs": 40, "buckets": 4, "malformed_share": 0.1,
                    "query_rounds": 1, "upsert_docs": 2, "warm_docs": 20},
    "curate": {"docs": 60, "vecs": 60, "exact_share": 0.1,
               "near_share": 0.1, "vec_near_share": 0.2, "passes": 1},
}


def _hashes(path: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(path, f), "rb").read())
            .hexdigest() for f in sorted(os.listdir(path))}


@pytest.mark.parametrize("kind,workload", [("rich", "build_serve"),
                                           ("curate", "curate")])
def test_generator_is_deterministic_per_seed(tmp_path, kind, workload):
    size = TINY[workload]
    a = gen.generate(kind, 7, str(tmp_path / "a"), size)
    b = gen.generate(kind, 7, str(tmp_path / "b"), size)
    c = gen.generate(kind, 8, str(tmp_path / "c"), size)
    assert a == b
    assert _hashes(tmp_path / "a") == _hashes(tmp_path / "b")
    assert _hashes(tmp_path / "a") != _hashes(tmp_path / "c")


def test_rich_corpus_has_the_stated_features(tmp_path):
    shares = gen.generate("rich", 3, str(tmp_path),
                          {"docs": 200, "malformed_share": 0.05})
    assert shares["docs"] == 200
    assert 0 < shares["malformed_share"] < 0.15
    assert shares["bnodes_per_doc"] >= 3
    assert shares["sameas_edges"] > 0
    assert shares["graph_doc_share"] > 0


def test_expected_graph_links_sameas_to_least_iri():
    p = gen.PERSON
    rows = [gen.interleave(f"doc-{n}", payload, None) for n, payload in (
        (1, '{"@id": "%s9", "http://www.w3.org/2002/07/owl#sameAs": '
            '{"@id": "%s2"}, "http://schema.org/knows": {"@id": "%s9"}}'
            % (p, p, p)),
        (2, '{"@id": "%s2", "http://schema.org/name": "x"}' % p),
        (3, '{"@context": {"n": {"@id": 5}}, "n": 1}'))]
    graph, errors = workloads.expected_graph(rows, link=True)
    assert errors == 1
    assert graph == Counter({
        ("doc-1", "@default", f"{p}2", "http://schema.org/knows", "iri",
         f"{p}2", None, None): 1,
        ("doc-2", "@default", f"{p}2", "http://schema.org/name", "literal",
         "x", "http://www.w3.org/2001/XMLSchema#string", None): 1})


def test_tail_percentile_keeps_ten_samples_beyond():
    assert workloads.tail_percentile(list(range(10))) == (None, None)
    p, v = workloads.tail_percentile([float(i) for i in range(100)])
    assert v == 89.0 and sum(x > v for x in range(100)) == 10
    assert p == 90.0


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(monkeypatch, workload, trace):
    """Every workload runs end to end at tiny size with all its output
    checks passing and prints every metric of its mode."""
    monkeypatch.setitem(run.WORKLOADS, workload, TINY[workload])
    monkeypatch.chdir(ROOT)
    # run() points TMPDIR and the Spark environment at its work dir
    env, tmp = dict(os.environ), tempfile.tempdir
    args = types.SimpleNamespace(workload=workload, seed=5, seconds=1,
                                 trace=trace)
    try:
        result, _ = run.run(args, ROOT)
    finally:
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = tmp
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] > 0
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], (int, float))
    if trace:
        # canonicalize and linking run only where the build runs
        jobs = result["metrics"]["canonicalize.jobs"]["value"]
        assert (jobs > 0) == (workload == "build_serve")
        # LSH candidates are counted from the engine's own buckets; the
        # verified pairs are a subset of them
        m = result["metrics"]
        if workload == "curate":
            assert m["similarity.candidate_pairs"]["value"] > 0
            assert 0 <= m["similarity.pair_yield"]["value"] <= 1
