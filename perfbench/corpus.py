"""Seeded input generators: the corpus tables and the analyst sessions.

Everything here is a pure function of the seed (NumPy PCG64 streams),
so the same seed always yields byte-identical parquet files and the
same request sequence. The engine only ever sees what these functions
write or hand it; nothing is filtered or repaired afterwards.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)

# 64 lowercase words; rank order is Zipf popularity order (rank 1 = most
# frequent) for both document text and query terms
VOCAB = (
    "data scan join table query value row key group sort filter batch "
    "window stream merge hash order column index vector spark line part "
    "customer agg small big fast slow node cache page shard frame shot "
    "video scene clip audio image color tag object person car tree road "
    "river city night light sky water face hand text sign door train "
    "bridge market"
).split()
OOV_WORDS = ("zqxv", "wplk", "mnbq", "vvtz", "qqrs")  # never in any document


def zipf_p(n: int, a: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated corpus.

    n_docs documents and n_vecs vectors share the id space 0..n-1
    (doc_id ≙ vec_id ≙ keyframe, as in api.py's corpus mapping).
    Exactly dup_share of the documents are near-copies (one word
    replaced) of an earlier original document and exact_share exact
    copies; vec_dup_share of the vectors are jittered copies of an
    earlier original vector. hot_share of the documents belong to the
    one hot source src0."""

    n_docs: int
    n_vecs: int
    n_sources: int = 20
    n_labels: int = 10
    dup_share: float = 0.0
    exact_share: float = 0.0
    vec_dup_share: float = 0.0
    hot_share: float = 0.0


def _planted(rng: np.random.Generator, n: int, *shares: float) -> list[np.ndarray]:
    """Disjoint id sets holding exactly round(share·n) ids each, drawn
    from 1..n-1 (id 0 has nothing earlier to copy): fixed counts keep the
    work a corpus plants the same across seeds."""
    ids = rng.permutation(np.arange(1, n))
    out, at = [], 0
    for share in shares:
        k = int(round(share * n))
        out.append(ids[at : at + k])
        at += k
    return out


def make_documents(rng: np.random.Generator, spec: CorpusSpec) -> pa.Table:
    p = zipf_p(len(VOCAB))
    exact, near = (set(a.tolist()) for a in _planted(rng, spec.n_docs, spec.exact_share, spec.dup_share))
    texts: list[str] = []
    originals: list[int] = []
    for i in range(spec.n_docs):
        if i in exact:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif i in near:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(30, 51))
            texts.append(" ".join(VOCAB[j] for j in rng.choice(len(VOCAB), size=n, p=p)))
            originals.append(i)
    (hot,) = _planted(rng, spec.n_docs, spec.hot_share)
    src = rng.integers(1, spec.n_sources, size=spec.n_docs)
    src[hot] = 0
    lang = rng.choice(len(LANGS), size=spec.n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(spec.n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in lang]),
            "source": pa.array([f"src{s}" for s in src]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def make_embeddings(rng: np.random.Generator, spec: CorpusSpec) -> pa.Table:
    """Clustered d=64 float32 vectors: label c's members are
    0.5·center_c + N(0, 1/√d) noise, so same-label cosines sit near
    0.2 — below the SemDeDup threshold unless a pair is a planted
    jittered copy (of an original, never of another copy)."""
    centers = rng.normal(0.0, 1.0 / np.sqrt(DIM), size=(spec.n_labels, DIM))
    labels = rng.integers(0, spec.n_labels, size=spec.n_vecs)
    vecs = 0.5 * centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(DIM), size=(spec.n_vecs, DIM))
    (dup,) = _planted(rng, spec.n_vecs, spec.vec_dup_share)
    dups = set(dup.tolist())
    originals = [i for i in range(spec.n_vecs) if i not in dups]
    for i in sorted(dups):
        j = originals[int(rng.integers(0, np.searchsorted(originals, i)))]
        vecs[i] = vecs[j] + rng.normal(0.0, 0.02 / np.sqrt(DIM), size=DIM)
        labels[i] = labels[j]
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(spec.n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def make_tables(seed: int, spec: CorpusSpec) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    return {
        "documents": make_documents(rng, spec),
        "embeddings": make_embeddings(rng, spec),
    }


def write_corpus(out_dir: str, seed: int, spec: CorpusSpec) -> dict[str, pa.Table]:
    """Write documents.parquet and embeddings.parquet (one file each,
    the layout tables.load reads) under a fresh `out_dir`."""
    tabs = make_tables(seed, spec)
    os.makedirs(out_dir)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tabs


# --------------------------------------------------------------------------
# analyst sessions (serve_mixed)
# --------------------------------------------------------------------------

# The request mix is stratified, not sampled. Each client runs cycles of
# CYCLE sessions; session j opens with OPENERS[j % CYCLE], runs
# FEEDBACK_ROUNDS[j % CYCLE] feedback rounds and ends with
# FOLLOW_UPS[j % CYCLE], and the requests at DEGENERATE's (client, slot,
# position in the session) carry the listed degenerate input. Every cycle
# of every client therefore has the same request composition; the seed
# varies the content (query terms, id filters, voted ids).
CYCLE = 3
OPENERS = ("text_search", "panel_search", "diverse_search")
FEEDBACK_ROUNDS = (1, 2, 1)
FOLLOW_UPS = ("related", "image_search", "recommend")
# 5 of each cycle's 20 requests (both clients), one of each form
DEGENERATE = {
    (0, 0, 0): "empty_text",  # text_search("")
    (0, 1, 0): "unknown_object",  # panel_search: documented KeyError
    (1, 1, 2): "votes_off_page",  # feedback voting on ids not on the page
    (1, 2, 0): "oov_text",  # diverse_search on a word no document has
    (1, 0, 2): "unknown_id",  # related on an id not in the corpus
}
UNKNOWN_ID = 10**9


@dataclass
class Request:
    """One facade call. `kind` is the api.SearchEngine method; `args`
    its keyword arguments, except for the fields resolved against the
    previous response at run time (`needs_page`)."""

    kind: str
    args: dict = field(default_factory=dict)
    degenerate: str | None = None
    needs_page: str | None = None  # "votes" | "top_hit"


QUERY_LOG = 16  # distinct queries the analysts draw from


def query_log(seed: int) -> list[str]:
    """The seed's QUERY_LOG distinct two-term queries (Zipf-popular
    terms; a fixed length keeps a request type's work the same across
    seeds), most popular first."""
    rng = np.random.default_rng([seed, 6])
    p = zipf_p(len(VOCAB))
    log: list[str] = []
    while len(log) < QUERY_LOG:
        q = " ".join(VOCAB[j] for j in rng.choice(len(VOCAB), size=2, p=p, replace=False))
        if q not in log:
            log.append(q)
    return log


def _query_text(rng: np.random.Generator, log: list[str]) -> str:
    """A query from the log with Zipf(1.1) popularity, so popular
    queries repeat across sessions."""
    return log[int(rng.choice(len(log), p=zipf_p(len(log))))]


def _oov(rng: np.random.Generator) -> str:
    return OOV_WORDS[int(rng.integers(0, len(OOV_WORDS)))]


def make_session(seed: int, client: int, j: int, n_ids: int) -> list[Request]:
    """Session `j` of client `client`: an opening search, 0-2 feedback
    rounds on the previous page, then related / image_search / recommend
    on a top hit. Queries come from the seed's query log with Zipf
    popularity, so popular ones repeat across sessions (the detail's
    session_repeat_share)."""
    rng = np.random.default_rng([seed, 2, client, j])
    log = query_log(seed)
    text = _query_text(rng, log)
    slot = j % CYCLE
    opener = OPENERS[slot]
    if opener == "text_search":
        req = Request("text_search", {"text": text, "k": 50})
        # every text_search carries an id filter (the Catalyst-fold branch)
        if client % 2 == 0:
            lo = int(rng.integers(0, n_ids // 2))
            req.args["keep_ids"] = list(range(lo, lo + n_ids // 2))
        else:
            req.args["ignore_ids"] = sorted(int(x) for x in rng.choice(n_ids, size=20, replace=False))
    elif opener == "panel_search":
        req = Request("panel_search", {"panel": {"tags": text.split()}, "k": 50})
    else:
        req = Request("diverse_search", {"text": text, "k": 8})
    out = [req]
    for r in range(FEEDBACK_ROUNDS[slot]):
        out.append(Request("feedback", {"k": 50, "n_pos": 1 + r, "n_neg": 1}, needs_page="votes"))
    follow = FOLLOW_UPS[slot]
    if follow == "recommend":
        out.append(Request("recommend", {"text": _query_text(rng, log), "k": 50}))
    else:
        out.append(Request(follow, {"k": 50} if follow == "image_search" else {}, needs_page="top_hit"))
    for (c, sl, q), form in DEGENERATE.items():
        if (c, sl) == (client % 2, slot):
            _degenerate(out[q], form, rng)
    return out


def _degenerate(req: Request, form: str, rng: np.random.Generator) -> None:
    """Turn `req` into the degenerate `form`: empty text, text with no
    vocabulary term, an unknown id, votes on ids that are not on the
    page, or a panel object type the grid vocabulary lacks."""
    req.degenerate = form
    if form == "empty_text":
        req.args["text"] = ""
    elif form == "oov_text":
        req.args["text"] = _oov(rng)
    elif form == "unknown_object":
        req.args["panel"] = dict(req.args["panel"], dragObject=[
            {"type": "spaceship",
             "position": {"xTop": 0.1, "yTop": 0.1, "xBottom": 0.4, "yBottom": 0.4}}])
