"""Self-tests of the benchmark's own arithmetic and oracle; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import statistics

import numpy as np
import pytest

from perfbench import corpus, stats, tracing
from perfbench.workloads import Result, Snapshot, canonical, check_query


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 95) == 95
    assert stats.percentile(vals, 100) == 100
    assert stats.percentile([7.0], 95) == 7.0
    # always a measured sample, never an interpolation
    assert stats.percentile([1.0, 2.0, 10.0, 11.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_median_matches_statistics():
    for vals in ([3.0], [5.0, 1.0], [4.0, 1.0, 3.0], [9.0, 2.0, 7.0, 4.0]):
        assert stats.median(vals) == statistics.median(vals)


def test_tail_keeps_ten_samples_beyond():
    assert stats.tail(list(range(10))) == {"rank": None, "value": None, "samples": 10}
    assert stats.tail(list(range(200)))["rank"] == 95.0
    vals = list(range(37))
    t = stats.tail(vals)
    assert t["samples"] == 37 and sum(v > t["value"] for v in vals) == 10


def test_union_merges_overlapping_and_touching_intervals():
    assert stats.union([(5, 6), (0, 2), (1, 3), (3, 4), (7, 7)]) == [(0, 4), (5, 6)]


def test_driver_gap_is_wall_minus_union_of_jobs():
    wall = (0.0, 10.0)
    # two overlapping jobs count once; a job running past the wall is clipped
    jobs = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert stats.uncovered(wall, jobs) == pytest.approx(10 - 3 - 1)
    assert stats.uncovered(wall, []) == 10.0
    assert stats.uncovered(wall, [(-1.0, 11.0)]) == 0.0


def test_span_self_time_by_layer():
    spans = [
        {"id": 0, "name": "op.query", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "context.query", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "filters.compile_filter", "parent": 1, "start": 1.5, "end": 2.0},
        {"id": 3, "name": "spark.job", "parent": 1, "start": 3.0, "end": 4.0},
        {"id": 4, "name": "pyspark.collect", "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 5, "name": "spark.job", "parent": 4, "start": 5.5, "end": 8.0},
        {"id": 6, "name": "spark.job", "parent": 4, "start": 7.0, "end": 8.5},
    ]
    got = tracing.self_times(spans)
    assert got["op"] == pytest.approx(10 - 4 - 4)
    assert got["context"] == pytest.approx(4 - 0.5 - 1)
    assert got["filters"] == pytest.approx(0.5)
    assert got["pyspark"] == pytest.approx(4 - 3)
    assert got["spark"] == pytest.approx(1 + 2.5 + 1.5)
    callers = [s for s in spans if s["name"] != "spark.job"]
    assert tracing.innermost(callers, 3.5) == 1
    assert tracing.innermost(callers, 6.0) == 4
    assert tracing.innermost(callers, 11.0) is None


def test_error_rate_counts_wrong_outputs_as_failed():
    r = Result()
    r.count(True, "a")
    r.count(False, "wrong rows")
    r.count(True, "c")
    r.count(True, "d")
    assert (r.attempted, r.failed) == (4, 1)
    assert stats.error_rate(r.attempted, r.failed) == 0.25
    assert r.failures == ["wrong rows"]
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(2, 3)


def test_quartile_spread_uses_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.0, 11.5, 10.2, 9.8]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == (q3 - q1) / q2


class _Provider:
    """Embeds a text as the vector its first two words name."""

    dim = 2

    def embed(self, texts):
        return [[float(t.split()[0]), float(t.split()[1])] for t in texts]


def _snapshot():
    snap = Snapshot(_Provider())
    texts = ["0 0", "1 0", "0 1", "1 0", "5 5"]
    metas = [
        {"lang": lang, "source": f"src{i}", "n_chars": 10 * i}
        for i, lang in enumerate(["en", "de", "en", "fr", "en"])
    ]
    snap.add(texts, metas)
    return snap


def test_oracle_filters_and_breaks_ties_by_id():
    snap = _snapshot()
    q = [1.0, 0.0]
    ids, dists, _, n = snap.topk(q, 3, {})
    assert ids == [1, 3, 0] and dists == [0.0, 0.0, 1.0] and n == 5
    assert snap.topk(q, 2, {"lang": {"$ne": "de"}})[0] == [3, 0]
    f = {"$or": [{"lang": {"$eq": "fr"}}, {"source": {"$in": ["src4"]}}]}
    assert snap.topk(q, 5, f)[0] == [3, 4]
    assert snap.topk(q, 5, {"$and": [{"n_chars": {"$gt": 10}}, {"lang": "en"}]})[0] == [2, 4]


def test_check_query_exact_and_approximate():
    snap = _snapshot()
    exact = {"text": "1 0", "k": 2, "filter": {}, "approximate": False}
    assert check_query(snap, exact, [{"_m_id": 1, "_dist": 0.0}, {"_m_id": 3, "_dist": 0.0}]) == (True, None)
    # a tie returned in the wrong id order is a wrong result
    assert check_query(snap, exact, [{"_m_id": 3, "_dist": 0.0}, {"_m_id": 1, "_dist": 0.0}])[0] is False
    approx = dict(exact, approximate=True)
    # a valid but incomplete top-k: correct rows, recall 1/2
    ok, recall = check_query(snap, approx, [{"_m_id": 3, "_dist": 0.0}, {"_m_id": 0, "_dist": 1.0}])
    assert ok and recall == 0.5
    # a row the filter rejects, or a wrong distance, fails the operation
    filtered = dict(approx, k=1, filter={"lang": {"$eq": "de"}})
    assert check_query(snap, filtered, [{"_m_id": 3, "_dist": 0.0}])[0] is False
    assert check_query(snap, approx, [{"_m_id": 1, "_dist": 0.5}, {"_m_id": 3, "_dist": 0.0}])[0] is False


def test_inputs_repeat_for_a_seed():
    assert corpus.query_stream(3, 20) == corpus.query_stream(3, 20)
    assert corpus.query_stream(3, 20) != corpus.query_stream(4, 20)
    a, b = corpus.ingest_split(3, 4000), corpus.ingest_split(4, 4000)
    assert np.array_equal(a[0], b[0]) and not np.array_equal(a[1], b[1])
    assert sorted(a[1].tolist()) == sorted(b[1].tolist())
    texts, metas = corpus.documents()
    assert len(texts) == corpus.N_DOCS and all(m["n_chars"] == len(t) for t, m in zip(texts, metas))


def test_read_your_write_filters_admit_their_document():
    _, metas = corpus.documents()
    docs = metas[:50]
    snap = Snapshot(_Provider())
    snap.add([f"{i} 0" for i in range(len(docs))], docs)
    for i, doc in enumerate(docs):
        f = corpus.ryw_filter(9, i, doc)
        assert snap.match(f)[i], f
        assert f == corpus.ryw_filter(9, i, doc)

    def kind(f):
        key = next(iter(f), "")
        return key if key.startswith("$") or not key else key + next(iter(f[key]))

    # any seven consecutive filters cover every kind
    assert len({kind(corpus.ryw_filter(9, n, docs[0])) for n in range(3, 10)}) == len(corpus.FILTER_KINDS)


def test_canonical_rows_ignore_order_but_not_bits():
    a = canonical(["b", "a"], [(1, 0.1), (2, None), (3, [1.5, 2.0])])
    b = canonical(["a", "b"], [([1.5, 2.0], 3), (float("nan"), 2), (0.1, 1)])
    assert a == b
    assert a[0] == ["a", "b"]
    assert canonical(["a"], [(0.1,)]) != canonical(["a"], [(0.1 + 1e-17 * 10,)])
    assert canonical(["a"], [(1,)]) != canonical(["a"], [(1.0,)])


def test_passes_sum_stage_operations_per_pass():
    def op(op_id, wall, jobs, self_ms):
        return {"id": op_id, "kind": "stage", "wall_ms": wall, "jobs": jobs, "plan_ms": None,
                "codegen_compiles": 0, "codegen_ms": 0.0, "driver_gap_ms": 1.0,
                **dict.fromkeys(tracing._SPARK_SUMS, 0.0),
                "self_ms": self_ms, "span_ms": {"curate.x": wall}}

    ops = [op("p0.x", 10.0, 2, {"spark": 4.0}), op("p0.y", 5.0, 1, {"spark": 1.0, "curate": 2.0}),
           op("p1.x", 12.0, 2, {"spark": 5.0}), {"id": "p1.q0", "kind": "query"}]
    got = tracing.passes(ops)
    assert [p["wall_ms"] for p in got] == [15.0, 12.0]
    assert [p["jobs"] for p in got] == [3.0, 2.0]
    assert got[0]["self_ms"] == {"spark": 5.0, "curate": 2.0}
    assert got[0]["span_ms"] == {"curate.x": 15.0}


def test_probe_and_stage_order():
    probe = corpus.probe_stream(1, 6)
    assert probe == corpus.probe_stream(1, 6)
    assert [q["approximate"] for q in probe] == [False] + [True] * 6
    assert all(q["k"] == corpus.APPROX_K for q in probe[1:])
    vecs = corpus.probe_stream(1, 6, vectors=True)
    assert all(len(q["vector"]) == corpus.EMB_DIM and "text" not in q for q in vecs)
    stages = ("a", "b", "c", "d", "e")
    assert sorted(corpus.stage_order(1, stages)) == sorted(stages)
    assert corpus.stage_order(1, stages) == corpus.stage_order(1, stages)
    assert len({tuple(corpus.stage_order(s, stages)) for s in range(10)}) > 1


def test_curate_tables_hold_the_snapshot_vectors(tmp_path):
    import pyarrow.parquet as pq

    corpus.write_curate_tables(str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    embs = pq.read_table(tmp_path / "embeddings.parquet").to_pydict()
    assert docs["doc_id"] == embs["vec_id"] == list(range(corpus.CURATE_DOCS))
    vecs = corpus.curate_embeddings()[0]
    assert np.array_equal(np.array(embs["embedding"], dtype=np.float32), vecs)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)
