"""serve_mixed: the multi-user search server.

A closed loop of ANALYSTS threads runs seeded analyst sessions
(corpus.make_session) against one api.SearchEngine built in set-up, at
d=64. Beside them one image-similarity client (serve_ann) runs seeded
d=768 queries through the exact scan and the LSH ANN operator over a
CLIP-width index, also built in set-up. Each client has its own FAIR
scheduler pool. A request runs from the call until its last row is
collected on the driver, so the construct phase (the eager jobs some
methods run before returning their DataFrame) is part of its latency.
"""

from __future__ import annotations

import statistics
import threading
import time

import numpy as np

from perfbench import checks, corpus, serve_ann
from perfbench.corpus import CorpusSpec, Request

ANALYSTS = 2
IMAGE_CLIENT = ANALYSTS  # the client id of the d=768 client
SPEC = CorpusSpec(n_docs=600, n_vecs=600)
ORACLE_PER_KIND = 3
# SearchEngine.__init__'s sparse channels; built ahead of the engine so
# set-up times the index build and the engine start separately
PANEL_CHANNELS = {"bbox": (1, 1), "color": (1, 1), "tag": (1, 1), "number": (1, 1)}


def setup(spark, tracer, run_dir: str, seed: int) -> tuple[float, dict]:
    """One set-up: the facade's corpus, both its index builds and the
    engine start, then the d=768 client's corpus, index and warm-up."""
    from multi_search_retrival_big_data_spark import api, index_store

    d = f"{run_dir}/serve"
    t0 = time.perf_counter()
    with tracer.span("setup", rep=0):
        with tracer.span("corpus.write"):
            tabs = corpus.write_corpus(d, seed, SPEC)
        with tracer.span("index_store.build.multichannel_postings"):
            mc = index_store.multichannel_postings(spark, d, PANEL_CHANNELS)
        with tracer.span("index_store.build.tfidf_postings"):
            tf = index_store.tfidf_postings(spark, d)
        with tracer.span("api.engine_init"):
            eng = api.SearchEngine(spark, d)
        ann = serve_ann.setup(spark, tracer, run_dir, seed)
    setup_s = time.perf_counter() - t0
    return setup_s, {"dir": d, "tabs": tabs, "engine": eng, "ann": ann,
                     "built": {"multichannel_postings": mc, "tfidf_postings": tf}}


def _page(kind: str, rows: list[dict]) -> list[tuple[int, float]]:
    """(id, score) of a response — what the analyst votes on next."""
    key = {
        "text_search": ("best_id", "best_score"),
        "panel_search": ("doc_id", "score"),
        "diverse_search": ("vec_id", "rel"),
        "feedback": ("vec_id", "score"),
        "image_search": ("vec_id", "score"),
        "recommend": ("vec_id", "dist"),
        "related": ("doc_id", "seq"),
    }[kind]
    return [(int(r[key[0]]), float(r[key[1]])) for r in rows]


def resolve(req: Request, page: list[tuple[int, float]], rng: np.random.Generator, n_ids: int) -> dict:
    """The request's final arguments, filling the page-dependent ones."""
    a = dict(req.args)
    on_page = [i for i, _ in page]
    if req.needs_page == "votes":
        pool = on_page
        if req.degenerate == "votes_off_page":
            off = sorted(set(range(n_ids)) - set(on_page))
            pool = [int(x) for x in rng.choice(off, size=min(len(off), 4), replace=False)]
        n_pos = min(a.pop("n_pos"), len(pool))
        n_neg = min(a.pop("n_neg"), len(pool) - n_pos)
        pick = [int(x) for x in rng.choice(pool, size=n_pos + n_neg, replace=False)]
        a["pos"], a["neg"] = pick[:n_pos], pick[n_pos:]
    elif req.needs_page == "top_hit":
        hit = on_page[0] if on_page else int(rng.integers(0, n_ids))
        if req.degenerate == "unknown_id":
            hit = corpus.UNKNOWN_ID
        a["doc_id" if req.kind == "related" else "query_id"] = hit
    return a


def call(spark, eng, kind: str, a: dict, page: list[tuple[int, float]]):
    """Invoke one facade method; returns its (lazy) DataFrame."""
    if kind == "text_search":
        ids = lambda xs: None if xs is None else spark.createDataFrame([(int(i),) for i in xs], "vec_id BIGINT")  # noqa: E731
        return eng.text_search(a["text"], k=a["k"], keep_ids=ids(a.get("keep_ids")), ignore_ids=ids(a.get("ignore_ids")))
    if kind == "panel_search":
        return eng.panel_search(a["panel"], k=a["k"])
    if kind == "diverse_search":
        return eng.diverse_search(a["text"], k=a["k"])
    if kind == "feedback":
        prev = spark.createDataFrame(page, "vec_id BIGINT, score DOUBLE")
        return eng.feedback(prev, a["pos"], a["neg"], k=a["k"])
    if kind == "image_search":
        return eng.image_search(a["query_id"], k=a["k"])
    if kind == "recommend":
        return eng.recommend(a["text"], k=a["k"])
    if kind == "related":
        return eng.related(a["doc_id"])
    raise KeyError(kind)


# degenerate inputs whose documented outcome is an error, by kind
EXPECTED_ERRORS = {("panel_search", "unknown_object"): KeyError}


def run_loop(spark, tracer, state: dict, seed: int, seconds: float) -> tuple[list[dict], float]:
    """The closed loop: each analyst runs one cycle of its own sessions
    back to back and the image client its fixed queries, whatever
    `seconds` is, so every run measures the same requests. Returns the
    samples and the loop's wall time."""
    eng, n_ids = state["engine"], SPEC.n_vecs
    lock = threading.Lock()
    samples: list[dict] = []
    t_start = time.perf_counter()

    def client(cid: int) -> None:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"client{cid}")
        if cid == IMAGE_CLIENT:
            out = serve_ann.run_client(tracer, state["ann"], cid, t_start)
            with lock:
                samples.extend(out)
            return
        for j in range(corpus.CYCLE):
            run_session(cid, j)

    def run_session(cid: int, j: int) -> None:
        page: list[tuple[int, float]] = []
        for q, req in enumerate(corpus.make_session(seed, cid, j, n_ids)):
            a = resolve(req, page, np.random.default_rng([seed, 3, cid, j, q]), n_ids)
            s = {"kind": req.kind, "args": a, "degenerate": req.degenerate, "client": cid,
                 "session": (cid, j), "seq": q, "page": page, "error": None, "rows": None, "cols": None}
            t0 = time.perf_counter()
            try:
                with tracer.span(f"api.{req.kind}", req=(cid * 1000 + j) * 100 + q) as sp:
                    with tracer.span(f"api.{req.kind}.construct"):
                        df = call(spark, eng, req.kind, a, page)
                    with tracer.span(f"api.{req.kind}.action"):
                        rows = df.collect()
                s["cols"] = df.columns
                s["rows"] = [r.asDict() for r in rows]
            except Exception as e:  # noqa: BLE001 — an outcome to check, not a crash
                s["error"] = e
            s["t0"], s["t1"] = t0 - t_start, time.perf_counter() - t_start
            if s["error"] is None:
                tracer.plan_metrics(sp, df)
            with lock:
                samples.append(s)
            page = _page(req.kind, s["rows"]) if s["rows"] is not None else []

    threads = [threading.Thread(target=client, args=(i,)) for i in range(ANALYSTS + 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, max(s["t1"] for s in samples)


def check(spark, samples: list[dict], state: dict, seed: int) -> None:
    """Fill s["fail"] for every sample. Analyst requests: structural
    checks on all, oracle comparison on a seeded sample of
    ORACLE_PER_KIND per kind. Image client: serve_ann.check."""
    from multi_search_retrival_big_data_spark import encoders

    serve_ann.check([s for s in samples if s["client"] == IMAGE_CLIENT], state["ann"])
    samples = [s for s in samples if s["client"] != IMAGE_CLIENT]

    cp = checks.Corpus.from_tables(state["tabs"], state["dir"])
    enc = encoders.FakeTextEncoder()
    rng = np.random.default_rng([seed, 4])
    by_kind: dict[str, list[dict]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s)
    deep = set()
    for kind, ss in by_kind.items():
        pick = rng.permutation(len(ss))[:ORACLE_PER_KIND]
        deep.update(id(ss[i]) for i in pick)
    con = None
    for s in samples:
        kind, a = s["kind"], s["args"]
        expected = EXPECTED_ERRORS.get((kind, s["degenerate"]))
        if s["error"] is not None:
            ok = expected is not None and isinstance(s["error"], expected)
            s["fail"] = [] if ok else [f"raised {type(s['error']).__name__}: {str(s['error'])[:160]}"]
            continue
        if expected is not None:
            s["fail"] = [f"expected {expected.__name__}, got {len(s['rows'])} rows"]
            continue
        s["fail"] = checks.structural(kind, s["cols"], s["rows"], checks.eligible_count(kind, a, cp, s["page"]))
        if s["fail"] or id(s) not in deep:
            continue
        qv = enc.encode(a["text"]) if "text" in a else None
        if kind in ("text_search", "image_search", "recommend", "feedback"):
            s["fail"] = checks.oracle_dense(kind, a, s["rows"], cp, qv=qv, page=s["page"])
        elif kind == "related":
            s["fail"] = checks.oracle_related(a, s["rows"], cp)
        else:
            con = con or checks.duck(state["dir"])
            if kind == "panel_search":
                sql = checks.panel_sql(a["panel"], a["k"])
                want = [] if sql is None else checks.duck_rows(con, sql)[1]
                s["fail"] = checks.compare_rows(s["rows"], want, ["doc_id", "score"], ordered=True)
            else:
                from multi_search_retrival_big_data_spark.operators.rerank import MMR_LAMBDA

                want = checks.diverse_oracle(con, a["text"], qv, 20, a["k"], MMR_LAMBDA)
                s["fail"] = checks.compare_rows(s["rows"], want, ["sel_rank", "vec_id", "rel"], ordered=True)
        s["oracle"] = True


def throughput(ok: list[dict], state: dict, wall: float) -> float:
    """Correct requests per second: the sum over clients of each client's
    completions ÷ the time of its last completion. A closed-loop client
    is never idle, so this is Σ 1/mean latency, whichever client happens
    to finish last."""
    last: dict[int, float] = {}
    n: dict[int, int] = {}
    for s in ok:
        last[s["client"]] = max(last.get(s["client"], 0.0), s["t1"])
        n[s["client"]] = n.get(s["client"], 0) + 1
    return sum(n[c] / last[c] for c in n)


def describe(samples: list[dict], state: dict) -> dict:
    """Load shape of this run, for the detail report."""
    seen, rep, n = set(), 0, 0
    analyst = [s for s in samples if s["client"] != IMAGE_CLIENT]
    for s in sorted(analyst, key=lambda s: (s["session"], s["seq"])):
        if s["seq"] == 0:
            a = s["args"]
            key = a.get("text") if "text" in a else " ".join(a["panel"].get("tags", []))
            rep += key in seen
            n += 1
            seen.add(key)
    return {
        "clients": ANALYSTS + 1,
        "corpus": {"docs": SPEC.n_docs, "vectors": SPEC.n_vecs, "dim": corpus.DIM},
        "sessions": ANALYSTS * corpus.CYCLE,
        # opening queries whose text already opened an earlier session
        "session_repeat_share": rep / max(1, n),
        "image_client": serve_ann.describe([s for s in samples if s["client"] == IMAGE_CLIENT], state["ann"]),
    }


def layer_probes(spark, state: dict, samples: list[dict]) -> dict:
    """Traced run only, outside the timed loop: rows each set-up index
    build wrote, a lookup of an already-built index (the call
    diverse_search makes per request), query encoding time, and the
    image client's probes (serve_ann.layer_probes)."""
    from multi_search_retrival_big_data_spark import encoders, index_store

    rows = {k: df.count() for k, df in state["built"].items()}
    look = []
    for _ in range(5):
        t0 = time.perf_counter()
        index_store.tfidf_postings(spark, state["dir"])
        look.append(1000 * (time.perf_counter() - t0))
    enc, tr = encoders.FakeTextEncoder(), encoders.IdentityTranslator()
    texts = [s["args"]["text"] for s in samples if "text" in s.get("args", {})] or [""]
    t0 = time.perf_counter()
    for t in texts:
        encoders.encode_query(t, enc, tr)
    enc_ms = 1000 * (time.perf_counter() - t0) / len(texts)
    ann = serve_ann.layer_probes(spark, state["ann"])
    return {
        **ann,
        "index_store.rows_written": {**rows, **ann["index_store.rows_written"]},
        "index_store.lookup_ms": statistics.median(look),
        "encoders.encode_query_ms": enc_ms,
    }
