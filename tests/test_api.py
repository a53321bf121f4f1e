from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import encoders
from multi_search_retrival_big_data_spark.api import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return SearchEngine(spark, sf_dir)


def test_text_search_grouped(engine):
    out = engine.text_search("fast spark join", k=20).collect()
    assert len(out) > 0
    cols = set(out[0].asDict())
    assert {"label", "best_score", "hit_count", "best_id"} <= cols
    # groups ordered by best hit desc
    scores = [r["best_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_text_search_ensemble_and_filters(engine, spark):
    keep = spark.createDataFrame([(i,) for i in range(0, 50)], "vec_id BIGINT")
    ignore = spark.createDataFrame([(3,), (7,)], "vec_id BIGINT")
    out = engine.text_search(
        "query", k=10, ensemble=True, keep_ids=keep, ignore_ids=ignore, group=False
    ).collect()
    ids = {r["vec_id"] for r in out}
    assert ids <= set(range(50)) and not ids & {3, 7}


def test_image_search_self_is_top(engine):
    rows = engine.image_search(42, k=5).collect()
    assert rows[0]["vec_id"] == 42 and rows[0]["score"] == 1.0


def test_panel_search_runs_and_empty_panel_is_empty(engine):
    panel = {
        "dragObject": [
            {"type": "person", "position": {"xTop": 0.01, "yTop": 0.01, "xBottom": 0.2, "yBottom": 0.2}}
        ],
        "tags": ["scan", "window"],
        "amount": "",
    }
    out = engine.panel_search(panel, k=10)
    assert out.columns == ["doc_id", "score"]
    out.collect()  # grid tokens won't match the synthetic corpus; tags may
    assert engine.panel_search({"dragObject": [], "tags": [], "amount": ""}).count() == 0


def test_feedback_rerank(engine):
    prev = engine.text_search("anything", k=20, group=False)
    out = engine.feedback(prev, pos_ids=[prev.first()["vec_id"]], neg_ids=[], k=5).collect()
    assert len(out) == 5


def test_related_neighborhood_same_source(engine):
    out = engine.related(10, radius=2).collect()
    assert 1 <= len(out) <= 5
    assert len({r["source"] for r in out}) == 1
    assert any(r["doc_id"] == 10 for r in out)


def test_translate_and_spell_fakes(engine):
    assert engine.translate("HeLLo") == "hello"
    assert engine.correct_spelling("abc") == "abc"


def test_real_encoder_seams_raise():
    with pytest.raises(NotImplementedError):
        encoders.ClipTextEncoder().encode("x")
    with pytest.raises(NotImplementedError):
        encoders.GoogleTranslator().translate("x")
    with pytest.raises(NotImplementedError):
        encoders.HFSpellCorrector().correct("x")


def test_browse_limit(engine):
    assert engine.browse(7).count() == 7


def test_panel_search_grouped(engine):
    panel = {"dragObject": [], "tags": ["scan", "window", "batch"], "amount": ""}
    out = engine.panel_search(panel, k=20, group=True)
    rows = out.collect()
    if rows:  # tag tokens exist in the synthetic corpus
        assert {"source", "best_score", "hit_count", "best_id"} <= set(rows[0].asDict())
        scores = [r["best_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_diverse_search_page(spark, sf_dir):
    from multi_search_retrival_big_data_spark.api import SearchEngine
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC
    from multi_search_retrival_big_data_spark.queries.sparse_queries import QUERY_TEXT

    eng = SearchEngine(spark, sf_dir)
    page = eng.diverse_search(QUERY_TEXT, query_vec=QUERY_VEC, n_fuse=10, k=4).collect()
    assert [r.sel_rank for r in page] == [1, 2, 3, 4]
    assert len({r.vec_id for r in page}) == 4
    # lam=1.0 degenerates to pure fused-relevance order
    pure = eng.diverse_search(
        QUERY_TEXT, query_vec=QUERY_VEC, n_fuse=10, k=4, lam=1.0
    ).collect()
    rels = [r.rel for r in pure]
    assert rels == sorted(rels, reverse=True)


def _jobs_per_call(spark, fn) -> int:
    """Spark jobs one facade request runs, construct phase included:
    the request's calls and its collect share one job group."""
    import uuid

    sc = spark.sparkContext
    group = f"api-ceiling-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "facade job ceiling", False)
    try:
        fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_request_job_ceilings(engine, spark):
    """Each request is one distributed head cut at a top-k plus a
    driver tail over request-sized rows: the id filters, votes and
    candidate page arrive as request-sized frames (built from lists,
    as a server would), and every method stays under its ceiling."""
    ids = lambda xs: spark.createDataFrame([(i,) for i in xs], "vec_id BIGINT")  # noqa: E731
    text = "fast spark join"
    ceilings = {
        "text_search keep_ids": (2, lambda: engine.text_search(text, k=50, keep_ids=ids(range(100, 400)))),
        "text_search ignore_ids": (2, lambda: engine.text_search(text, k=50, ignore_ids=ids(range(0, 60, 3)))),
        "panel_search": (4, lambda: engine.panel_search({"tags": ["scan", "window"]}, k=50)),
        "diverse_search": (5, lambda: engine.diverse_search(text, k=8)),
    }
    page = [(r.vec_id, r.score) for r in engine.text_search(text, k=50, group=False).collect()]
    prev = spark.createDataFrame(page, "vec_id BIGINT, score DOUBLE")
    ceilings["feedback"] = (3, lambda: engine.feedback(prev, [page[3][0], page[5][0]], [page[1][0]], k=50))
    over = {
        name: n
        for name, (ceiling, fn) in ceilings.items()
        if (n := _jobs_per_call(spark, fn)) > ceiling
    }
    assert not over, f"jobs per request over the ceiling: {over}"


def test_feedback_without_resolvable_votes_keeps_page(engine, spark):
    """No votes, or votes only on ids the corpus lacks: every candidate
    gets delta 0 (Rocchio over an empty feedback set), so the whole
    page comes back in its own order — never an empty page."""
    page = [(r.vec_id, r.score) for r in engine.text_search("anything", k=20, group=False).collect()]
    prev = spark.createDataFrame(page, "vec_id BIGINT, score DOUBLE")
    want = sorted(page, key=lambda t: (-t[1], t[0]))
    for pos, neg in (([], []), ([10**9], []), ([10**9], [10**9 + 1])):
        got = engine.feedback(prev, pos, neg, k=50).collect()
        assert [(r.vec_id, r.score) for r in got] == want, (pos, neg)
    # a known negative vote removes its id, and only that id
    got = engine.feedback(prev, [], [page[0][0]], k=50).collect()
    assert sorted(r.vec_id for r in got) == sorted(i for i, _ in page if i != page[0][0])
