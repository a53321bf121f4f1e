"""Output checks that feed the benchmark's failure count.

Every response gets the structural checks (`structural`): column
names, row count = min(k, eligible rows), finite scores and the
documented order. A seeded sample of each request type, and every
curation chain stage, is also compared with an independent
computation (`oracle_*`), run outside the timed region: NumPy for the
dense paths, DuckDB for the sparse, panel, diverse and dedup outputs
(reusing the registry's oracle SQL builders). A check returns a list
of failure strings; an empty list is a pass.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np

TOL = 2e-6  # two det-round quanta: engine summation order vs NumPy

COLUMNS = {
    "text_search": ["label", "best_score", "hit_count", "best_id"],
    "panel_search": ["doc_id", "score"],
    "diverse_search": ["sel_rank", "vec_id", "rel"],
    "feedback": ["vec_id", "score"],
    "image_search": ["vec_id", "score"],
    "recommend": ["vec_id", "dist"],
    "related": ["source", "doc_id", "text", "lang", "n_chars", "seq"],
}
# (column, descending) sort keys each response must already be in
ORDER = {
    "text_search": [("best_score", True), ("label", False)],
    "panel_search": [("score", True), ("doc_id", False)],
    "feedback": [("score", True), ("vec_id", False)],
    "image_search": [("score", True), ("vec_id", False)],
    "recommend": [("dist", False), ("vec_id", False)],
}
TOKEN_RE = re.compile(r"\w+")


def det6(x):
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


@dataclass
class Corpus:
    """The generated inputs, held driver-side for the oracles."""

    ids: np.ndarray  # vec_id, sorted
    emb: np.ndarray  # float64 (n, d), cast from the stored float32
    labels: np.ndarray
    doc_tokens: list[set[str]]  # per doc_id
    sources: list[str]
    parquet_dir: str

    @classmethod
    def from_tables(cls, tabs: dict, parquet_dir: str) -> Corpus:
        e = tabs["embeddings"]
        d = tabs["documents"]
        emb = np.stack(e.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        return cls(
            ids=e.column("vec_id").to_numpy(),
            emb=emb,
            labels=e.column("label").to_numpy(),
            doc_tokens=[set(TOKEN_RE.findall(t.lower())) for t in d.column("text").to_pylist()],
            sources=d.column("source").to_pylist(),
            parquet_dir=parquet_dir,
        )


def _finite(rows: Sequence[dict], cols: Sequence[str]) -> bool:
    return all(
        isinstance(r[c], (int, float)) and math.isfinite(r[c])
        for r in rows
        for c in cols
        if isinstance(r[c], float) or c in ("score", "best_score", "dist", "rel")
    )


def _ordered(rows: Sequence[dict], keys: Sequence[tuple[str, bool]]) -> bool:
    def key(r):
        return tuple(-r[c] if desc else r[c] for c, desc in keys)

    return all(key(a) <= key(b) for a, b in zip(rows, rows[1:]))


def eligible_count(kind: str, args: dict, corpus: Corpus, page: Sequence[tuple]) -> int:
    """Rows the response must hold: min(k, eligible rows)."""
    n = len(corpus.ids)
    k = args.get("k")
    if kind == "text_search":
        allowed = set(corpus.ids.tolist())
        if args.get("keep_ids") is not None:
            allowed &= set(args["keep_ids"])
        if args.get("ignore_ids") is not None:
            allowed -= set(args["ignore_ids"])
        return min(k, len(allowed))
    if kind == "panel_search":
        tags = {str(t) for t in args["panel"].get("tags", [])}
        return min(k, sum(1 for toks in corpus.doc_tokens if toks & tags))
    if kind == "feedback":
        neg = set(args["neg"])
        known = set(corpus.ids.tolist())
        return min(k, sum(1 for i, _ in page if i not in neg and i in known))
    if kind == "image_search":
        return min(k, n) if args["query_id"] in set(corpus.ids.tolist()) else 0
    if kind == "recommend":
        return min(k, n)
    if kind == "related":
        i = args["doc_id"]
        if not 0 <= i < len(corpus.sources):
            return 0
        same = [j for j, s in enumerate(corpus.sources) if s == corpus.sources[i]]
        pos = same.index(i)
        r = args.get("radius", 5)
        return len(same[max(0, pos - r) : pos + r + 1])
    if kind == "diverse_search":
        return min(args["k"], 20)  # n_fuse=20 ≤ the dense list's min(100, n)
    raise KeyError(kind)


def structural(kind: str, cols: Sequence[str], rows: Sequence[dict], expect_rows: int | None) -> list[str]:
    errs = []
    if list(cols) != COLUMNS[kind]:
        errs.append(f"schema {list(cols)} != {COLUMNS[kind]}")
        return errs
    n = len(rows)
    if kind == "text_search":
        n = sum(r["hit_count"] for r in rows)
    if expect_rows is not None and n != expect_rows:
        errs.append(("short" if n < expect_rows else "long") + f": {n} rows, expected {expect_rows}")
    if not _finite(rows, cols):
        errs.append("NaN/Inf score")
    if kind in ORDER and not _ordered(rows, ORDER[kind]):
        errs.append("order violates " + ", ".join(f"{c} {'DESC' if d else 'ASC'}" for c, d in ORDER[kind]))
    if kind == "diverse_search" and [r["sel_rank"] for r in rows] != list(range(1, len(rows) + 1)):
        errs.append("sel_rank is not 1..n")
    return errs


def structural_ranked(got: Sequence[tuple[int, float]], k: int, desc: bool = True) -> list[str]:
    """Structural checks of an operator's (id, score) top-k: k rows,
    distinct ids, finite scores, order score DESC (distance ASC), id ASC."""
    errs = []
    if len(got) != k:
        errs.append(("short" if len(got) < k else "long") + f": {len(got)} rows, expected {k}")
    if len({i for i, _ in got}) != len(got):
        errs.append("duplicate ids")
    if not all(math.isfinite(s) for _, s in got):
        errs.append("NaN/Inf score")
    sgn = -1.0 if desc else 1.0
    if any((sgn * a[1], a[0]) > (sgn * b[1], b[0]) for a, b in zip(got, got[1:])):
        errs.append("order violates " + ("score DESC" if desc else "distance ASC") + ", id ASC")
    return errs


# --------------------------------------------------------------------------
# NumPy oracles (dense paths)
# --------------------------------------------------------------------------


def cosine(emb: np.ndarray, q: Sequence[float]) -> np.ndarray:
    qv = np.asarray(q, dtype=np.float64)
    return (emb @ qv) / (np.sqrt((emb * emb).sum(axis=1)) * np.sqrt(qv @ qv))


def compare_ranked(got: Sequence[tuple[int, float]], ids: np.ndarray, scores: np.ndarray, k: int, desc: bool = True) -> list[str]:
    """`got` (id, score) against exact per-id `scores`: every returned
    score must match its id's exact score within TOL, and every id that
    beats the k-th exact score by more than TOL must be returned (a
    near-tie at the boundary may go either way)."""
    sgn = -1.0 if desc else 1.0
    order = np.lexsort((ids, sgn * scores))
    n = min(k, len(ids))
    if len(got) != n:
        return [f"{len(got)} rows, exact top-k has {n}"]
    if n == 0:
        return []
    exact = dict(zip(ids.tolist(), scores.tolist()))
    errs = []
    for i, s in got:
        if i not in exact:
            errs.append(f"id {i} not eligible")
        elif abs(exact[i] - s) > TOL:
            errs.append(f"id {i}: score {s} != exact {exact[i]}")
    kth = scores[order[n - 1]]
    must = {int(ids[j]) for j in order[:n] if sgn * (scores[j] - kth) < -TOL}
    missing = must - {i for i, _ in got}
    if missing:
        errs.append(f"missing ids {sorted(missing)[:5]}")
    return errs[:5]


def oracle_dense(kind: str, args: dict, rows: Sequence[dict], corpus: Corpus, qv=None, page=()) -> list[str]:
    ids, emb = corpus.ids, corpus.emb
    if kind == "image_search":
        hit = np.flatnonzero(ids == args["query_id"])
        if len(hit) == 0:
            return [] if not rows else ["rows for an unknown id"]
        s = det6(cosine(emb, emb[hit[0]]))
        return compare_ranked([(r["vec_id"], r["score"]) for r in rows], ids, s, args["k"])
    if kind == "recommend":
        d = det6(np.sqrt(((emb - np.asarray(qv)) ** 2).sum(axis=1)))
        return compare_ranked([(r["vec_id"], r["dist"]) for r in rows], ids, d, args["k"], desc=False)
    if kind == "feedback":
        neg = set(args["neg"])
        votes = [(i, 1.0) for i in args["pos"]] + [(i, -1.0) for i in args["neg"]]
        pos_of = {int(v): j for j, v in enumerate(ids.tolist())}
        vv = [(sgn, emb[pos_of[i]]) for i, sgn in votes if i in pos_of]
        cand = [(i, s) for i, s in page if i not in neg and i in pos_of]
        if not cand or not vv:
            return [] if not rows else ["rows without candidates or votes"]
        c_ids = np.array([i for i, _ in cand])
        c_emb = emb[[pos_of[i] for i in c_ids]]
        delta = sum(sgn * cosine(c_emb, v) for sgn, v in vv)
        s = det6(np.array([p for _, p in cand]) + delta)
        return compare_ranked([(r["vec_id"], r["score"]) for r in rows], c_ids, s, args["k"])
    if kind == "text_search":
        mask = np.ones(len(ids), dtype=bool)
        if args.get("keep_ids") is not None:
            mask &= np.isin(ids, args["keep_ids"])
        if args.get("ignore_ids") is not None:
            mask &= ~np.isin(ids, args["ignore_ids"])
        e_ids, s = ids[mask], det6(cosine(emb[mask], qv))
        order = np.lexsort((e_ids, -s))[: args["k"]]
        n = len(order)
        if n and n < len(e_ids) and abs(s[order[-1]] - s[np.lexsort((e_ids, -s))[n]]) <= TOL:
            return []  # a near-tie straddles the top-k boundary: membership is ambiguous
        groups: dict[int, list[tuple[float, int]]] = {}
        lab = corpus.labels[mask]
        for j in order:
            groups.setdefault(int(lab[j]), []).append((float(s[j]), int(e_ids[j])))
        want = sorted(
            ((lb, max(m)[0], len(m), min(m, key=lambda t: (-t[0], t[1]))[1]) for lb, m in groups.items()),
            key=lambda t: (-t[1], t[0]),
        )
        got = [(r["label"], r["best_score"], r["hit_count"], r["best_id"]) for r in rows]
        if len(got) != len(want):
            return [f"{len(got)} groups, exact grouping has {len(want)}"]
        for g, w in zip(got, want):
            if g[0] != w[0] or g[2] != w[2] or g[3] != w[3] or abs(g[1] - w[1]) > TOL:
                return [f"group {g} != exact {w}"]
        return []
    raise KeyError(kind)


def oracle_related(args: dict, rows: Sequence[dict], corpus: Corpus) -> list[str]:
    i, r = args["doc_id"], args.get("radius", 5)
    if not 0 <= i < len(corpus.sources):
        return [] if not rows else ["rows for an unknown id"]
    same = [j for j, s in enumerate(corpus.sources) if s == corpus.sources[i]]
    pos = same.index(i)
    want = {(j, k + 1) for k, j in enumerate(same) if abs(k - pos) <= r}
    got = {(row["doc_id"], row["seq"]) for row in rows}
    return [] if got == want else [f"neighbourhood {sorted(got)[:4]} != exact {sorted(want)[:4]}"]


# --------------------------------------------------------------------------
# DuckDB oracles (sparse, panel, diverse, chain stages)
# --------------------------------------------------------------------------


def duck(parquet_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{parquet_dir}/{t}.parquet'")
    return con


def panel_sql(panel: dict, k: int) -> str | None:
    """DuckDB mirror of SearchEngine.panel_search for tag panels: each
    channel's sklearn-parity TF-IDF top-k (sparse_queries.tfidf_cte)
    min-max fused by addition (_minmax_fuse_sql)."""
    from multi_search_retrival_big_data_spark.functions import visual
    from multi_search_retrival_big_data_spark.queries.sparse_queries import (
        _minmax_fuse_sql,
        tfidf_cte,
    )

    chans = {
        ch: sorted({t: toks.count(t) for t in set(toks)}.items())
        for ch, toks in visual.parse_panel(panel).items()
        if toks
    }
    if not chans:
        return None
    ctes, tops = [], []
    for i, (_ch, qterms) in enumerate(sorted(chans.items())):
        ctes.append(tfidf_cte(f"c{i}_", (1, 1), qterms))
        tops.append(f"c{i}_top AS (SELECT doc_id, score FROM c{i}_topk ORDER BY score DESC, doc_id LIMIT {k})")
    fuse = _minmax_fuse_sql([f"c{i}_top" for i in range(len(chans))], k).lstrip().removeprefix(",")
    return "WITH " + ",".join(ctes) + ",\n" + ",\n".join(tops) + ",\n" + fuse


def diverse_oracle(con, text: str, qv: Sequence[float], n_fuse: int, k: int, lam: float) -> list[dict]:
    """Mirror of SearchEngine.diverse_search: DuckDB builds the RRF
    candidate page and its pairwise similarities with the registry's
    endpoint_diverse_search oracle builders (sparse TF-IDF top-100 +
    dense top-100 → RRF top-n_fuse); the greedy MMR selection then
    replays in Python (the registry's recursive-CTE form of the greedy
    costs seconds per request in DuckDB)."""
    from multi_search_retrival_big_data_spark.operators import sparse
    from multi_search_retrival_big_data_spark.queries.common import sql_det_round, sql_vec
    from multi_search_retrival_big_data_spark.queries.fusion_queries import (
        _dense_top_cte,
        _rrf_fuse_sql,
    )
    from multi_search_retrival_big_data_spark.queries.rerank_queries import _mmr_cos
    from multi_search_retrival_big_data_spark.queries.sparse_queries import tfidf_cte

    qterms = sparse.query_terms(text)
    sp = (
        f"{tfidf_cte('dq_', (1, 1), qterms)},\n"
        "sp_top AS (SELECT doc_id AS id, score FROM dq_topk ORDER BY score DESC, doc_id LIMIT 100)"
        if qterms
        else "sp_top AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS DOUBLE) AS score WHERE false)"
    )
    ctes = f"""
    WITH {sp},
    {_dense_top_cte('dn_top', sql_vec(qv), 100).lstrip().removeprefix(',')},
    {_rrf_fuse_sql(['sp_top', 'dn_top'], n_fuse, as_cte='rrf_top').lstrip().removeprefix(',')},
    cand AS (
      SELECT r.id, CAST(e.embedding AS DOUBLE[]) AS v, r.score AS rel
      FROM rrf_top r JOIN embeddings e ON e.vec_id = r.id
    )"""
    rel = dict(con.sql(ctes + " SELECT id, rel FROM cand").fetchall())
    sim = {
        (a, b): x
        for a, b, x in con.sql(
            ctes
            + f"""
    SELECT a.id, b.id,
           CASE WHEN list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v) = 0.0 THEN 0.0
                ELSE {sql_det_round(_mmr_cos('a.v', 'b.v'))} END
    FROM cand a JOIN cand b ON a.id <> b.id"""
        ).fetchall()
    }
    remaining, selected = set(rel), []
    while remaining and len(selected) < k:
        def score(c):
            if not selected:
                return lam * rel[c]
            return lam * rel[c] - (1.0 - lam) * max(sim[(c, s)] for s in selected)

        best = min(remaining, key=lambda c: (-score(c), c))
        selected.append(best)
        remaining.discard(best)
    return [{"sel_rank": i + 1, "vec_id": c, "rel": rel[c]} for i, c in enumerate(selected)]


def compare_rows(got: Sequence[dict], want: Sequence[dict], cols: Sequence[str], ordered: bool) -> list[str]:
    """Row-set equality (floats within 1e-9: both engines run the same
    quantized arithmetic)."""

    def canon(rows):
        out = []
        for r in rows:
            t = []
            for c in cols:
                v = r[c]
                if isinstance(v, float):
                    v = round(v, 9)
                elif hasattr(v, "item"):
                    v = v.item()
                t.append(v)
            out.append(tuple(t))
        return out if ordered else sorted(out, key=repr)

    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return [f"{len(a)} rows, oracle has {len(b)}"]
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return [f"{len(bad)} rows differ from the oracle, e.g. {bad[0]}"] if bad else []


def duck_rows(con, sql: str) -> tuple[list[str], list[dict]]:
    rel = con.sql(sql)
    cols = rel.columns
    return cols, [dict(zip(cols, t)) for t in rel.fetchall()]
