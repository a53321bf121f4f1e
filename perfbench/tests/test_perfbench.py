"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import checks, corpus, curate, report
from perfbench.corpus import CorpusSpec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = CorpusSpec(n_docs=120, n_vecs=120, dup_share=0.1, exact_share=0.05, vec_dup_share=0.1, hot_share=0.3)


def _tables(tmp_path, seed, name):
    d = str(tmp_path / name)
    corpus.write_corpus(d, seed, SPEC)
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in ("documents", "embeddings")}, d


def test_corpus_is_deterministic_per_seed(tmp_path):
    a, _ = _tables(tmp_path, 7, "a")
    b, _ = _tables(tmp_path, 7, "b")
    c, _ = _tables(tmp_path, 8, "c")
    for t in a:
        assert a[t].equals(b[t])
    assert not a["documents"].equals(c["documents"])
    assert not a["embeddings"].equals(c["embeddings"])


def test_corpus_plants_the_stated_duplicates(tmp_path):
    tabs, _ = _tables(tmp_path, 3, "a")
    texts = tabs["documents"].column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact copies exist
    srcs = tabs["documents"].column("source").to_pylist()
    assert srcs.count("src0") > len(srcs) / 5  # the hot source


def test_sessions_are_deterministic_and_seeded():
    def sessions(seed):
        return [
            [(r.kind, json.dumps(r.args, sort_keys=True), r.degenerate) for r in corpus.make_session(seed, c, j, 600)]
            for c in range(2)
            for j in range(3 * corpus.CYCLE)
        ]

    assert sessions(1) == sessions(1)
    assert sessions(1) != sessions(2)


def test_every_cycle_has_the_same_composition():
    def kinds(seed, c, cycle):
        js = range(cycle * corpus.CYCLE, (cycle + 1) * corpus.CYCLE)
        return sorted(r.kind for j in js for r in corpus.make_session(seed, c, j, 600))

    base = kinds(1, 0, 0)
    assert all(kinds(seed, c, cy) == base for seed in (1, 2, 3) for c in (0, 1) for cy in range(3))
    for seed in (1, 2, 3):
        for c in (0, 1):
            degenerate = [r for j in range(corpus.CYCLE) for r in corpus.make_session(seed, c, j, 600) if r.degenerate]
            assert len(degenerate) == len([k for k in corpus.DEGENERATE if k[0] == c])


def test_each_degenerate_form_lands_on_its_request_type():
    kind_of = {"empty_text": "text_search", "oov_text": "diverse_search", "unknown_object": "panel_search",
               "votes_off_page": "feedback", "unknown_id": "related"}
    seen = {
        r.degenerate: r.kind
        for c in (0, 1)
        for j in range(corpus.CYCLE)
        for r in corpus.make_session(9, c, j, 600)
        if r.degenerate
    }
    assert seen == kind_of


def _corpus(tmp_path):
    tabs, d = _tables(tmp_path, 11, "c")
    return checks.Corpus.from_tables(tabs, d)


def _image_rows(cp, qid, k):
    s = checks.det6(checks.cosine(cp.emb, cp.emb[qid]))
    order = np.lexsort((cp.ids, -s))[:k]
    return [{"vec_id": int(cp.ids[j]), "score": float(s[j])} for j in order]


def test_correct_result_passes(tmp_path):
    cp = _corpus(tmp_path)
    rows = _image_rows(cp, 4, 50)
    args = {"query_id": 4, "k": 50}
    assert checks.structural("image_search", ["vec_id", "score"], rows, checks.eligible_count("image_search", args, cp, [])) == []
    assert checks.oracle_dense("image_search", args, rows, cp) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[:-1],  # short
        lambda rows: rows[1:] + rows[:1],  # out of order
        lambda rows: [dict(rows[0], score=float("nan"))] + rows[1:],  # NaN score
        lambda rows: [dict(rows[0], score=rows[0]["score"] + 0.01)] + rows[1:],  # wrong score
        lambda rows: [dict(rows[0], vec_id=10**9)] + rows[1:],  # id not in the corpus
    ],
)
def test_corrupted_result_is_a_failure(tmp_path, corrupt):
    cp = _corpus(tmp_path)
    args = {"query_id": 4, "k": 50}
    rows = corrupt(_image_rows(cp, 4, 50))
    structural = checks.structural("image_search", ["vec_id", "score"], rows, checks.eligible_count("image_search", args, cp, []))
    assert structural or checks.oracle_dense("image_search", args, rows, cp)


def test_wrong_schema_is_a_failure(tmp_path):
    cp = _corpus(tmp_path)
    rows = [{"id": r["vec_id"], "score": r["score"]} for r in _image_rows(cp, 4, 50)]
    assert checks.structural("image_search", ["id", "score"], rows, 50)


def test_panel_oracle_round_trip_and_corruption(tmp_path):
    cp = _corpus(tmp_path)
    con = checks.duck(cp.parquet_dir)
    panel = {"tags": ["scan", "join"]}
    want = checks.duck_rows(con, checks.panel_sql(panel, 50))[1]
    assert want and len(want) == checks.eligible_count("panel_search", {"panel": panel, "k": 50}, cp, [])
    assert checks.compare_rows(want, want, ["doc_id", "score"], ordered=True) == []
    bad = [dict(want[0], score=want[0]["score"] / 2)] + want[1:]
    assert checks.compare_rows(bad, want, ["doc_id", "score"], ordered=True)


def test_every_metric_is_declared_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(report.WORKLOADS)


def test_hd_quantile_matches_known_values():
    xs = list(range(1, 101))
    assert report.hd_quantile(xs, 0.5) == pytest.approx(50.5, abs=0.01)
    assert 89 < report.hd_quantile(xs, 0.9) < 92
    assert report.hd_quantile([7.0], 0.9) == 7.0
    assert report.hd_quantile([1, 2, 3, 1000], 0.5) < 300  # robust to one outlier


def test_per_layer_report_covers_every_metric():
    # one request with construct/action children, one set-up build
    spans = [
        {"id": 0, "name": "setup", "parent": None, "req": None, "rep": 0, "start": 0.0, "end": 2.0},
        {"id": 1, "name": "index_store.build.tfidf_postings", "parent": 0, "req": None, "start": 0.5, "end": 1.5},
        {"id": 2, "name": "api.text_search", "parent": None, "req": 0, "start": 3.0, "end": 4.0,
         "overhead_s": 0.001, "python_eval_ms": 5.0},
        {"id": 3, "name": "api.text_search.construct", "parent": 2, "req": 0, "start": 3.0, "end": 3.2, "jobs": 1},
        {"id": 4, "name": "api.text_search.action", "parent": 2, "req": 0, "start": 3.2, "end": 3.9, "jobs": 2,
         "stages": 3, "tasks": 9, "shuffle_write_bytes": 10, "spill_bytes": 0},
    ]
    per_layer, layers = report._per_layer(spans, 8.0, 12.0, (0.0, 0.0), (1.0, 3.0), {"index_store.rows_written": {"tfidf_postings": 7}}, 900.0)
    assert set(per_layer) == set(report.PER_LAYER)
    assert per_layer["request.construct_ms"] == pytest.approx(200.0)
    assert per_layer["request.action_jobs"] == 2
    assert per_layer["request.self_ms"] == pytest.approx(100.0)
    assert per_layer["index_store.build_s"] == pytest.approx(1.0)
    assert per_layer["driver.python_cpu_share"] == pytest.approx(0.25)
    assert layers["api.text_search"]["construct_jobs"] == 1


def test_ann_queries_are_deterministic_and_seeded():
    from perfbench import serve_ann

    def queries(seed):
        return serve_ann.query_vectors(seed, corpus.make_tables(seed, CorpusSpec(n_docs=1, n_vecs=300)))

    a, b, c = queries(5), queries(5), queries(6)
    assert a == b and a != c
    assert len(a) == serve_ann.QUERIES + 1 and all(len(q) == serve_ann.DIM for q in a)


def test_widened_corpus_matches_the_engine_projection(tmp_path):
    from multi_search_retrival_big_data_spark import encoders
    from perfbench import serve_ann

    emb = corpus.make_tables(3, CorpusSpec(n_docs=1, n_vecs=20))["embeddings"]
    serve_ann.widen(emb, str(tmp_path / "w"))
    wide = pq.read_table(str(tmp_path / "w" / "embeddings.parquet"))
    assert wide.column("vec_id").equals(emb.column("vec_id"))
    for v, w in zip(emb.column("embedding").to_pylist(), wide.column("embedding").to_pylist()):
        want = np.float32(encoders.dim_expand_encode(v, in_dim=corpus.DIM, out_dim=serve_ann.DIM))
        assert np.array_equal(np.float32(w), want)


def _ann_case(seed=5):
    from perfbench import serve_ann

    rng = np.random.default_rng(seed)
    ids = np.arange(400, dtype=np.int64)
    emb = rng.normal(size=(400, 16))
    q = emb[3] + rng.normal(scale=0.05, size=16)
    s = checks.det6(checks.cosine(emb, q))
    order = np.lexsort((ids, -s))[: serve_ann.K]
    rows = [{"vec_id": int(ids[j]), "score": float(s[j])} for j in order]
    return ids, emb, q, rows


def test_exact_and_ann_responses_pass(tmp_path):
    from perfbench import serve_ann

    ids, emb, q, rows = _ann_case()
    for fn in serve_ann.CALLS:
        errs, recall = serve_ann.check_response(fn, ["vec_id", "score"], rows, ids, emb, q)
        assert errs == [] and recall == 1.0


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[:-1],  # short
        lambda rows: rows[1:] + rows[:1],  # out of order
        lambda rows: [dict(rows[0], score=float("inf"))] + rows[1:],  # Inf score
        lambda rows: [dict(rows[0], score=rows[0]["score"] - 1e-3)] + rows[1:],  # wrong score
        lambda rows: rows[:1] * 2 + rows[2:],  # duplicate id
    ],
)
def test_corrupted_ann_response_is_a_failure(corrupt):
    from perfbench import serve_ann

    ids, emb, q, rows = _ann_case()
    errs, _ = serve_ann.check_response("ann.ann_lsh_topk", ["vec_id", "score"], corrupt(rows), ids, emb, q)
    assert errs


def test_ann_run_below_the_recall_floor_fails_every_response_of_that_call():
    from perfbench import serve_ann

    ids, emb, q, rows = _ann_case()
    s = checks.det6(checks.cosine(emb, q))
    # the K best of the ranks beyond the exact top-K: right scores, right
    # order, recall 0
    tail = np.lexsort((ids, -s))[serve_ann.K : 2 * serve_ann.K]
    far = [{"vec_id": int(ids[j]), "score": float(s[j])} for j in tail]
    assert serve_ann.check_response("ann.ann_lsh_topk", ["vec_id", "score"], far, ids, emb, q) == ([], 0.0)
    samples = [{"kind": "ann.ann_lsh_topk", "error": None, "cols": ["vec_id", "score"], "rows": r, "query": 0}
               for r in (rows, far, far)]
    samples.append({"kind": "dense.topk_cosine_arrow", "error": None, "cols": ["vec_id", "score"], "rows": rows, "query": 0})
    serve_ann.check_samples(samples, ids, emb, [q])
    assert [bool(x["fail"]) for x in samples] == [True, True, True, False]


def test_curate_latency_is_the_pass_wall_time():
    assert curate.latencies([{"t0": 0.0, "t1": 1.0}] * 4, 12.5) == [12500.0]
