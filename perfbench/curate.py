"""curate: the LLM-curation batch chain over a corpus no index has seen.

One pass builds the indexes the chain reads (doc shingles, MinHash
signatures, the trained IVF cells) and runs the four registered chain
stages in order. Each stage's full output is collected, so the whole
plan executes (a `.count()` would let Catalyst prune columns the stage
computes) and the rows can be checked without running the stage again.
The pass corpus is fresh, so the builds are real: the write side of
index_store that serving only pays in set-up.
"""

from __future__ import annotations

import statistics
import time

from perfbench import checks, corpus
from perfbench.corpus import CorpusSpec

CHAIN = (
    "dedup_minhash_lsh_capped",
    "dedup_keep_canonical",
    "dedup_semantic_keep",
    "pipeline_curation_end_to_end",
)
# 10% near-duplicate and 3% exact-duplicate documents, 10% jittered
# vector copies, a quarter of the documents in one hot source
SPEC = CorpusSpec(
    n_docs=200, n_vecs=200, dup_share=0.10, exact_share=0.03, vec_dup_share=0.10, hot_share=0.25
)


def setup(spark, tracer, run_dir: str, seed: int) -> tuple[float, dict]:
    """The corpus the pass reads, in a fresh directory, so the pass
    builds its indexes afresh."""
    from multi_search_retrival_big_data_spark.queries import load_registry

    d = f"{run_dir}/curate"
    t0 = time.perf_counter()
    with tracer.span("setup", rep=0):
        with tracer.span("queries.load_registry"):
            load_registry()
        with tracer.span("corpus.write"):
            tabs = corpus.write_corpus(d, seed, SPEC)
    return time.perf_counter() - t0, {"dir": d, "tabs": tabs}


def run_loop(spark, tracer, state: dict, seed: int, seconds: float) -> tuple[list[dict], float]:
    """One pass, whatever `seconds` is: the indexes the stages read,
    built first so each build is timed at its own call boundary (the
    stages then find them built), then the four stages in order."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.queries import REGISTRY
    from multi_search_retrival_big_data_spark.queries.pipeline_queries import _SEM_ITERS

    d = state["dir"]
    t_start = time.perf_counter()
    with tracer.span("index_store.build.doc_shingles", req=0):
        index_store.doc_shingles(spark, d)
    with tracer.span("index_store.build.minhash_sigs", req=0):
        index_store.minhash_sigs(spark, d)
    with tracer.span("index_store.build.ivf_trained", req=0):
        index_store.ivf_trained(spark, d, iters=_SEM_ITERS)
    samples = []
    for j, name in enumerate(CHAIN):
        s = {"kind": name, "error": None}
        t0 = time.perf_counter()
        try:
            with tracer.span(f"queries.{name}", req=j + 1):
                with tracer.span(f"queries.{name}.construct"):
                    df = REGISTRY[name].fn(spark, d)
                with tracer.span(f"queries.{name}.action"):
                    rows = df.collect()
            s["cols"], s["rows"] = df.columns, [r.asDict() for r in rows]
        except Exception as e:  # noqa: BLE001 — an outcome to check, not a crash
            s["error"] = e
        s["t0"], s["t1"] = t0 - t_start, time.perf_counter() - t_start
        samples.append(s)
    return samples, time.perf_counter() - t_start


def latencies(samples: list[dict], wall: float) -> list[float]:
    """The batch job is the request: one sample, the pass wall time
    (index builds included)."""
    return [1000.0 * wall]


def check(spark, samples: list[dict], state: dict, seed: int) -> None:
    """Every stage output is compared (outside the timed region) with
    its registered DuckDB oracle over the same parquet; an empty stage
    output is a failure too."""
    from multi_search_retrival_big_data_spark.queries import REGISTRY

    con = None
    for s in samples:
        if s["error"] is not None:
            s["fail"] = [f"raised {type(s['error']).__name__}: {str(s['error'])[:160]}"]
            continue
        got = s["rows"]
        s["fail"] = [] if got else ["empty output"]
        con = con or checks.duck(state["dir"])
        cols, want = checks.duck_rows(con, REGISTRY[s["kind"]].oracle)
        if sorted(s["cols"]) != sorted(cols):
            s["fail"].append(f"schema {s['cols']} != oracle {cols}")
            continue
        s["fail"] += checks.compare_rows(got, want, sorted(cols), ordered=False)
        s["oracle"] = True


def throughput(ok: list[dict], state: dict, wall: float) -> float:
    """Input documents per second of pass wall time (index builds
    included)."""
    return state["tabs"]["documents"].num_rows / wall


def describe(samples: list[dict], state: dict) -> dict:
    return {
        "corpus": {"docs": SPEC.n_docs, "vectors": SPEC.n_vecs, "dup_share": SPEC.dup_share,
                   "exact_share": SPEC.exact_share, "vec_dup_share": SPEC.vec_dup_share,
                   "hot_share": SPEC.hot_share},
        "output_rows": {s["kind"]: len(s["rows"]) for s in samples if s.get("rows") is not None},
    }


def layer_probes(spark, state: dict, samples: list[dict]) -> dict:
    """Traced run only, after the pass: rows each in-pass build wrote, a
    lookup of an already-built index, and the MinHash-LSH waste ratio
    (candidate pairs per pair that passes Jaccard verification)."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.operators import dedup
    from multi_search_retrival_big_data_spark.queries.pipeline_queries import (
        _SEM_ITERS,
        LSH_MAX_BUCKET,
    )

    d = state["dir"]
    look = []
    for _ in range(5):
        t0 = time.perf_counter()
        sh = index_store.doc_shingles(spark, d)
        look.append(1000 * (time.perf_counter() - t0))
    sigs = index_store.minhash_sigs(spark, d)
    cand = dedup.lsh_candidate_pairs(
        dedup.lsh_buckets(sigs, "doc_id", dedup.LSH_BANDS, dedup.LSH_ROWS), "doc_id", LSH_MAX_BUCKET
    ).count()
    verified = next((len(s["rows"]) for s in samples if s["kind"] == CHAIN[0] and s.get("rows") is not None), 0)
    return {
        "index_store.rows_written": {
            "doc_shingles": sh.count(),
            "minhash_sigs": sigs.count(),
            "ivf_trained": index_store.ivf_trained(spark, d, iters=_SEM_ITERS)[1].count(),
        },
        "index_store.lookup_ms": statistics.median(look),
        "dedup.candidates_per_verified_pair": cand / max(1, verified),
        "dedup.lsh_candidate_pairs": cand,
        "dedup.verified_pairs": verified,
        "not_measured": {
            "spark.python_eval_ms": "reads 0: only the plans of the collected actions are walked, and the "
                                    "plans of a stage's construct-phase jobs cannot be reached from outside",
        },
    }
