"""Sparse (lexical) retrieval — S14/S15 index build + Q4/Q5/Q6 scoring.

The reference stores one sklearn `TfidfVectorizer` + CSR doc-term
matrix per channel and scores queries with a CSR dot product
(utils/object_retrieval_engine/object_retrieval.py:221-255, 303-325;
utils/ocr_retrieval_engine/ocr_retrieval.py:27-77;
utils/semantic_embed/speech_retrieval.py:56-131). The Spark-native
equivalent is a **posting-list inverted index** — a DataFrame
`(term, doc_id, weight)` — because:

- it IS the sparse representation: the q·Mᵀ CSR dot product becomes
  `postings WHERE term IN query → groupBy(doc_id).sum(qw·w)`,
  touching exactly the nnz entries of matched terms (never densified);
- at 100 TB it shards naturally: bucket postings by `term` and the
  query's term list prunes the buckets without a shuffle of the
  index; the query side is a handful of weights, compiled on the
  driver and carried in the plan as literals;
- the aggregation is partial (map-side combine), so per-executor
  traffic is ~|matched docs|, not |postings|.

Weighting replicates sklearn's defaults for score parity with the
reference (SURVEY.md §4 "needs custom work" item 1):
    tf      = raw term count in doc
    idf     = ln((1+N)/(1+df)) + 1          (smooth_idf=True)
    w_raw   = tf · idf
    weight  = w_raw / ||w_raw||₂ over the doc   (norm='l2')
Query vectors get the same treatment with the *corpus* idf, so the
score is the exact TF-IDF cosine sklearn produces.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions.rounding import (
    det_round,
    det_round_np,
    quantized_sum,
    quantized_sum_py,
)
from multi_search_retrival_big_data_spark.functions.text import (
    char_ngrams,
    tokenize,
    word_ngrams_range,
)
from multi_search_retrival_big_data_spark.functions.vector import lit_lookup
from multi_search_retrival_big_data_spark.operators.fusion import MINMAX_EPS
from multi_search_retrival_big_data_spark.partitioning import ensure_min_partitions

TOKEN_RE = re.compile(r"\w+")

# rank_bm25.BM25Okapi defaults, the reference's legacy scorer
# (utils/object_retrieval_engine/bm25.py:24-57)
BM25_K1 = 1.5
BM25_B = 0.75
BM25_EPSILON = 0.25


def _terms_col(
    text_col: str, ngram_range: tuple[int, int], analyzer: str = "word"
) -> Column:
    if analyzer == "char":
        # the reference's empty-vocabulary fallback channel: sklearn
        # re-fits with analyzer='char_wb' when the word vocabulary
        # comes out empty (object_retrieval.py:79-89); approximated as
        # plain char n-grams of the lowercased text (functions/text.py)
        return char_ngrams(F.col(text_col), ngram_range[0], ngram_range[1])
    toks = tokenize(F.col(text_col))
    if ngram_range == (1, 1):
        return toks
    return word_ngrams_range(toks, ngram_range[0], ngram_range[1])


def term_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """(doc_id, term, tf) — the raw doc-term matrix in COO form.

    No partition widening here: single-channel (1,1) explodes are
    cheap enough that the extra round-robin shuffle (paid once per
    plan branch) costs more than the parallelism buys — measured at
    sf0.1. The multichannel fit, whose explode is ~5× wider, does
    widen (fit_tfidf_multichannel).
    """
    # the char analyzer explodes ~(n_max - n_min + 1)·len(text) terms
    # per doc — widen the (often single-row-group) input so the explode
    # parallelizes; the word path stays as measured (see docstring)
    src = ensure_min_partitions(docs) if analyzer == "char" else docs
    return (
        src.select(
            F.col(id_col).alias("doc_id"),
            _terms_col(text_col, ngram_range, analyzer).alias("__terms"),
        )
        .select("doc_id", F.explode("__terms").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df) — (doc_id, term) pairs are unique post-groupBy, so a
    plain count is the document frequency (no countDistinct shuffle)."""
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def _corpus_size(docs: DataFrame, id_col: str) -> DataFrame:
    """1-row (n) DataFrame kept lazy — broadcast-cross-joined into the
    plan instead of a driver-side collect."""
    return docs.agg(F.count(F.col(id_col)).alias("n"))


def fit_tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    cache: bool = False,
    analyzer: str = "word",
) -> DataFrame:
    """S14 — build the sklearn-parity TF-IDF posting lists:
    (term, doc_id, weight, idf). Persist/bucket this by `term` for
    repeated querying; recompute cost is one pass over the corpus.

    cache=True marks the result for in-memory reuse: every scorer
    consumes postings TWICE (query-idf branch + match branch), and
    without materialization both branches recompute the fit. The
    production analogue is the persisted, term-bucketed index table
    (write_postings_bucketed)."""
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    dfreq = doc_frequencies(tf)
    n = _corpus_size(docs, id_col)
    raw = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("idf", F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0))
        .withColumn("w_raw", F.col("tf") * F.col("idf"))
    )
    norms = raw.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm"))
    out = (
        raw.join(norms, "doc_id")
        .select(
            "term",
            "doc_id",
            (F.col("w_raw") / F.col("__norm")).alias("weight"),
            "idf",
        )
    )
    return out.cache() if cache else out


def query_terms(
    query: str, ngram_range: tuple[int, int] = (1, 1), analyzer: str = "word"
) -> list[tuple[str, int]]:
    """Driver-side query compilation (the reference encodes queries on
    the serving thread too — object_retrieval.py:303-311): lowercase,
    `\\w+` tokens, optional word n-grams, term counts. analyzer='char'
    mirrors _terms_col's char-n-gram fallback channel."""
    if analyzer == "char":
        s = query.lower()
        grams = [
            s[i : i + n]
            for n in range(ngram_range[0], ngram_range[1] + 1)
            for i in range(len(s) - n + 1)
        ]
        return sorted(Counter(grams).items())
    toks = TOKEN_RE.findall(query.lower())
    grams: list[str] = []
    for nlen in range(ngram_range[0], ngram_range[1] + 1):
        grams += [" ".join(toks[i : i + nlen]) for i in range(len(toks) - nlen + 1)]
    return sorted(Counter(grams).items())


def _idf_lookup(postings: DataFrame, terms: list[str], keys: list[str]) -> dict[tuple, float]:
    """(*keys, term) → idf for the query's own terms: ONE job, a
    term-filtered scan whose distinct needs no exchange on the
    persisted, term-bucketed index (the filter prunes buckets too),
    collecting ≤ |terms| rows per key."""
    if not terms:
        return {}
    rows = (
        postings.filter(F.col("term").isin(terms))
        .select(*keys, "term", "idf")
        .distinct()
        .collect()
    )
    return {tuple(r)[:-1]: r["idf"] for r in rows}


def _l2_normalize(w: dict) -> dict:
    """w / ‖w‖₂ on the driver; the norm folds the squares left to right
    in key order (the in-plan aggregate it replaces summed them in
    whatever order rows arrived — the 1e-12 quantization downstream
    absorbs an ulp either way)."""
    acc = 0.0
    for key in sorted(w):
        acc = acc + w[key] * w[key]
    qnorm = math.sqrt(acc)
    return {key: v / qnorm for key, v in w.items()}


def query_vector(postings: DataFrame, qterms: list[tuple[str, int]]) -> dict[str, float]:
    """term → qw, the L2-normalized TF-IDF query vector in the corpus
    vector space. OOV query terms drop out (the fitted model defines
    the space).

    Plan shape: the head is one idf lookup (_idf_lookup, ≤ |qterms|
    rows); the weights are computed on the driver and enter the
    scoring plan as literals (score_vector) — no query relation, no
    norm aggregate, no 1-row broadcast."""
    idf = _idf_lookup(postings, sorted({t for t, _ in qterms}), [])
    return _l2_normalize({t: float(c) * idf[(t,)] for t, c in qterms if (t,) in idf})


def score_vector(
    postings: DataFrame,
    qv: dict[str, float],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """(doc_id, score) top-k of Σ_t qv[t]·weight_col against ANY
    term → weight query vector — idf-compiled (query_vector),
    feedback-expanded (tfidf_prf_search) or BM25 term counts
    (bm25_score, weight_col="score_w"). The weights are plan literals;
    the term IN-list prunes the scan (and the buckets), and the only
    exchange is the doc_id aggregation over the matched postings."""
    if not qv:
        return tables.local(postings.sparkSession, [], "doc_id BIGINT, score DOUBLE")
    base = postings.filter(F.col("term").isin(sorted(qv)))
    if subset is not None:
        base = base.join(
            subset.select(F.col(subset.columns[0]).alias("doc_id")), "doc_id", "left_semi"
        )
    # exact order-independent accumulation (see queries/common.dsum)
    addend = lit_lookup(["term"], {(t,): w for t, w in qv.items()}) * F.col(weight_col)
    score = quantized_sum(addend, 12)
    if round_to is not None:
        score = det_round(score, round_to)
    scored = base.groupBy("doc_id").agg(score.alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def tfidf_score(
    postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Q4/Q5 — score docs against a compiled query: the CSR q·Mᵀ dot
    re-expressed as an inverted-index scan. Returns (doc_id, score)
    top-k, `score` = TF-IDF cosine.

    The subset path (`M[index,:]` row-slice in the reference,
    object_retrieval.py:320-323) is a semi-join applied *before*
    aggregation, so non-candidate postings never reach the shuffle."""
    return score_vector(postings, query_vector(postings, qterms), k, subset, round_to)


PRF_N_FB = 10  # feedback depth: docs assumed relevant
PRF_M_TERMS = 5  # expansion terms added to the query
PRF_BETA = 0.4  # expansion weight vs the original query vector


def tfidf_prf_search(
    postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    n_fb: int = PRF_N_FB,
    m_terms: int = PRF_M_TERMS,
    beta: float = PRF_BETA,
    round_to: int | None = None,
) -> DataFrame:
    """Pseudo-relevance feedback retrieval (RM3-style, Lavrenko &
    Croft 2001 relevance models; the Rocchio-family expansion the
    reference applies on the DENSE side via /feedback —
    app.py /feedback + faiss_processing.py re-query — transplanted to
    the sparse channel): (1) initial TF-IDF pass, (2) treat the top
    n_fb docs as relevant and pick the m_terms highest-mass terms from
    their postings (summed normalized weight, quantized-exact, ties →
    term ASC; original query terms excluded), (3) one re-scoring pass
    with the combined vector original ∪ beta·expansion.

    Scale shape: the feedback-doc semi-join broadcasts n_fb ids into
    the term-bucketed postings scan; term election aggregates only the
    feedback docs' postings (≤ n_fb rows per term) and collects the
    m_terms winners; the re-score is the same literal-vector pass as
    every other sparse query. Two passes over the index, zero corpus
    shuffles beyond the scorer's own doc_id groupBy."""
    qv = query_vector(postings, qterms)
    fb = score_vector(postings, qv, n_fb, round_to=round_to)
    orig_terms = [t for t, _ in qterms]
    mass = (
        F.sum(
            F.floor(F.col("weight") * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double")
        / F.lit(1e12)
    )
    expansion = (
        postings.join(F.broadcast(fb.select("doc_id")), "doc_id", "left_semi")
        .filter(~F.col("term").isin(orig_terms))
        .groupBy("term")
        .agg(mass.alias("__mass"))
        .orderBy(F.desc("__mass"), F.asc("term"))
        .limit(m_terms)
        .collect()
    )
    combined = {**qv, **{r["term"]: float(beta) * r["__mass"] for r in expansion}}
    return score_vector(postings, combined, k, round_to=round_to)


def fit_bm25(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    k1: float = BM25_K1,
    b: float = BM25_B,
    epsilon: float = BM25_EPSILON,
    cache: bool = False,
) -> DataFrame:
    """S15 — BM25Okapi posting lists (term, doc_id, score_w) where
    score_w is the full per-term BM25 contribution for tf in that doc;
    query scoring is then Σ over query terms (bm25.py:80-109 scores
    whole-corpus per query the same way).

    Okapi idf = ln((N - df + 0.5)/(df + 0.5)); rank_bm25 floors
    negative idf (common terms, df > N/2) to epsilon · avg(idf) —
    replicated here as a conditional against the vocabulary average."""
    tf = term_counts(docs, id_col, text_col, ngram_range)
    idf, avgdl = bm25_model(tf, docs, id_col, epsilon)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    out = (
        tf.join(idf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "term",
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (1 - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score_w"),
        )
    )
    return out.cache() if cache else out


def bm25_model(
    tf: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    epsilon: float = BM25_EPSILON,
) -> tuple[DataFrame, DataFrame]:
    """The BM25 MODEL — (idf(term, idf), avgdl 1-row) — factored out
    of fit_bm25 so the incremental append path can freeze it: Okapi
    idf with rank_bm25's epsilon·avg(idf) floor for common terms, and
    the corpus average document length. Both are corpus statistics —
    the text-side train/add boundary (see transform_bm25)."""
    dfreq = doc_frequencies(tf)
    n = _corpus_size(docs, id_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = dfreq.crossJoin(F.broadcast(n)).withColumn(
        "idf_raw",
        F.log((F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))),
    )
    avg_idf = idf.agg(F.avg("idf_raw").alias("avg_idf"))
    idf = idf.crossJoin(F.broadcast(avg_idf)).select(
        "term",
        F.when(F.col("idf_raw") < 0, F.lit(epsilon) * F.col("avg_idf"))
        .otherwise(F.col("idf_raw"))
        .alias("idf"),
    )
    return idf, avgdl


def transform_bm25(
    docs: DataFrame,
    idf_model: DataFrame,
    avgdl: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25's transform half: weight NEW documents under a FROZEN
    model — the (term, idf) table (vocabulary + floored Okapi idf) and
    the 1-row avgdl. Out-of-vocabulary terms drop; each delta doc's
    own length enters the saturation denominator but the corpus
    statistics stay frozen (dl is per-row state, avgdl/idf are model
    state — the same split transform_tfidf makes). Returns rows in the
    (term, doc_id, score_w) posting schema, ready to append."""
    # term_counts normalizes the id column to "doc_id"; alias back out
    tf = term_counts(docs, id_col, text_col, ngram_range)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return (
        tf.join(idf_model, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "term",
            F.col("doc_id").alias(id_col),
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (1 - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score_w"),
        )
    )


def bm25_score(
    bm25_postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Score = Σ_t qtf(t) · score_w(t, doc) over matched terms.
    (BM25Okapi.get_scores counts each query occurrence — bm25.py:99.)"""
    qtf = {t: float(c) for t, c in qterms}
    return score_vector(bm25_postings, qtf, k, subset, round_to, weight_col="score_w")


def fit_tfidf_multichannel(
    docs: DataFrame,
    channels: dict[str, tuple[int, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """S14 for ALL channels in ONE pass: posting lists
    (channel, term, doc_id, weight, idf).

    The reference fits one TfidfVectorizer per channel over separate
    corpus files (object_retrieval.py:113-145); the driver corpus gives
    every channel the same text under a different n-gram view. Fitting
    them independently costs C × (scan + 3 shuffles); here the channel
    tag rides in the aggregation keys, so ALL channels share one scan,
    one explode, and one shuffle chain — the shuffles are bigger but
    map-side partial aggregation keeps the traffic ≈ Σ per-channel nnz,
    and the downstream multi-channel query becomes a single linear plan
    instead of C recomputed branches."""
    toks = tokenize(F.col(text_col))

    def _tag(name: str):
        # closure factory: a 2-parameter lambda would make F.transform
        # pass the ARRAY INDEX as the second argument
        return lambda t: F.struct(F.lit(name).alias("channel"), t.alias("term"))

    tagged = []
    for name, ngr in channels.items():
        terms = toks if ngr == (1, 1) else word_ngrams_range(toks, ngr[0], ngr[1])
        tagged.append(F.transform(terms, _tag(name)))
    exploded = (
        ensure_min_partitions(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(F.flatten(F.array(*tagged))).alias("e"))
        .select("doc_id", "e.channel", "e.term")
    )
    tf = exploded.groupBy("channel", "doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfreq = tf.groupBy("channel", "term").agg(F.count("*").alias("df"))
    n = _corpus_size(docs, id_col)
    raw = (
        tf.join(dfreq, ["channel", "term"])
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf",
            F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0),
        )
        .withColumn("w_raw", F.col("tf") * F.col("idf"))
    )
    norms = raw.groupBy("channel", "doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, ["channel", "doc_id"]).select(
        "channel",
        "term",
        "doc_id",
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )


def multichannel_tfidf_score(
    postings: DataFrame,
    channel_qterms: dict[str, list[tuple[str, int]]],
    k_per_channel: int,
    k: int,
    round_to: int | None = None,
) -> DataFrame:
    """Q6/Q7 — multi-channel context search: per-channel TF-IDF cosine
    → per-channel top-k → min-max normalize → additive fusion (Q8) →
    global top-k. Returns (doc_id, score).

    Head/tail split: the head is ONE distributed plan over the index —
    per-channel weights as literals (query_vector's driver compile,
    one idf lookup for every channel's terms), shared shuffles keyed
    by channel, and a row_number window partitioned by channel that
    Spark prunes as a WindowGroupLimit — cut at ≤ C·k_per_channel
    rows and collected. The tail (min-max over each channel's list,
    quantized additive fusion, the global top-k) replays the Q8
    arithmetic on the driver in the same IEEE order and exact integer
    totals, and the page comes back as a local relation."""
    from pyspark.sql.window import Window

    all_terms = sorted({t for terms in channel_qterms.values() for t, _ in terms})
    idf = _idf_lookup(postings, all_terms, ["channel"])
    qw: dict[tuple[str, str], float] = {}
    for ch, terms in channel_qterms.items():
        w = {t: float(c) * idf[(ch, t)] for t, c in terms if (ch, t) in idf}
        qw.update({(ch, t): v for t, v in _l2_normalize(w).items()})
    top: list = []
    if qw:
        addend = lit_lookup(["channel", "term"], qw) * F.col("weight")
        score = quantized_sum(addend, 12)
        if round_to is not None:
            score = det_round(score, round_to)
        scored = (
            postings.filter(F.col("term").isin(all_terms))
            .filter(addend.isNotNull())
            .groupBy("channel", "doc_id")
            .agg(score.alias("score"))
        )
        wk = Window.partitionBy("channel").orderBy(F.desc("score"), F.asc("doc_id"))
        top = (
            scored.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") <= k_per_channel)
            .select("channel", "doc_id", "score")
            .collect()
        )
    lists: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for r in top:
        lists[r["channel"]].append((r["doc_id"], r["score"]))
    normed: dict[int, list[float]] = defaultdict(list)
    for rows in lists.values():
        mn, mx = min(s for _, s in rows), max(s for _, s in rows)
        for d, s in rows:
            normed[d].append((s - mn) / (mx - mn + MINMAX_EPS))
    fused = {d: quantized_sum_py(v, 12) for d, v in normed.items()}
    if round_to is not None:
        fused = {d: float(det_round_np(v, round_to)) for d, v in fused.items()}
    page = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:k]
    return tables.local(postings.sparkSession, page, "doc_id BIGINT, score DOUBLE")


def write_postings_bucketed(
    postings: DataFrame, table_name: str, buckets: int = 32
) -> None:
    """Persist a fitted posting-list index bucketed + sorted by `term`
    (the production layout the module header promises): repeated
    scoring joins and df/idf re-aggregations on `term` then read
    pre-clustered buckets — Catalyst drops the Exchange entirely
    (verified in tests by asserting no shuffle in the groupBy plan).

    At 100 TB this is the difference between re-shuffling the index per
    query batch and a shuffle-free co-located join against a similarly
    bucketed query-batch table."""
    (
        postings.write.mode("overwrite")
        .bucketBy(buckets, "term")
        .sortBy("term")
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_postings_table(spark, table_name: str) -> DataFrame:
    return spark.table(table_name)


def batch_tfidf_score(
    postings: DataFrame,
    batch_qterms: dict[int, list[tuple[str, int]]],
    k: int,
    round_to: int | None = None,
) -> DataFrame:
    """Multi-query batched sparse scoring: every query's terms join the
    posting index in ONE pass; per-query top-k via a partitioned
    window. The sparse analogue of dense.batch_topk_cosine — at scale
    the index is read once per batch instead of once per query, and
    the broadcast query side carries (query_id, term, qw).

    Returns (query_id, doc_id, score)."""
    from pyspark.sql.window import Window

    spark = postings.sparkSession
    q = spark.createDataFrame(
        [(qid, t, float(c)) for qid, terms in batch_qterms.items() for t, c in terms],
        "query_id INT, term STRING, qtf DOUBLE",
    )
    all_terms = sorted({t for terms in batch_qterms.values() for t, _ in terms})
    idf = (
        postings.filter(F.col("term").isin(all_terms))
        .select("term", "idf")
        .distinct()
    )
    qv = q.join(idf, "term")
    qnorm = qv.groupBy("query_id").agg(
        F.sqrt(F.sum((F.col("qtf") * F.col("idf")) ** 2)).alias("__qnorm")
    )
    qv = qv.join(qnorm, "query_id").select(
        "query_id", "term", ((F.col("qtf") * F.col("idf")) / F.col("__qnorm")).alias("qw")
    )
    addend = F.col("qw") * F.col("weight")
    score = (
        F.sum(F.floor(addend * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
        / F.lit(1e12)
    )
    if round_to is not None:
        m = F.lit(float(10 ** round_to))
        score = F.floor(score * m + F.lit(0.5)).cast("double") / m
    scored = (
        postings.join(F.broadcast(qv), "term")
        .groupBy("query_id", "doc_id")
        .agg(score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def transform_tfidf(
    docs: DataFrame,
    model_postings: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """sklearn's fit/transform SPLIT for the TF-IDF index: weight NEW
    documents under the FROZEN model carried by an existing posting
    table — (term, idf) pairs are the model (vocabulary + idf), terms
    outside the fitted vocabulary are DROPPED (exactly
    TfidfVectorizer.transform), and each new doc L2-normalizes over
    its surviving terms. Returns rows in the posting schema
    (term, doc_id, weight, idf), ready to APPEND to the persisted
    index.

    This is how a text search index grows at 100 TB: appends are a
    pass over the DELTA only (tf explode + one broadcast-sized join
    against the distinct (term, idf) model + a per-doc norm agg —
    never a corpus refit). What appends do NOT refresh: idf itself —
    document frequencies are corpus statistics, exactly FAISS's
    train/add boundary transplanted to text; after heavy drift the
    index is refit offline and swapped (index_store generations +
    gc_stale_index_tables)."""
    # term_counts normalizes the id column to "doc_id" internally —
    # group/join on that and alias back out, so a non-default id_col
    # works (the multichannel transform already does this)
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    model = model_postings.select("term", "idf").distinct()
    raw = tf.join(model, "term").withColumn(
        "w_raw", F.col("tf") * F.col("idf")
    )
    norms = raw.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, "doc_id").select(
        "term",
        F.col("doc_id").alias(id_col),
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )


def oov_stats(
    docs: DataFrame,
    model_postings: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """The retrain gauge for the frozen text model: per document, how
    many term OCCURRENCES the frozen vocabulary would drop
    (transform_tfidf/-bm25 silently discard out-of-vocabulary terms —
    correct sklearn semantics, but at some drift level the model must
    be refit; this is the number that says when). Returns
    (id, total_occurrences, oov_occurrences, oov_rate). One delta-side
    tf pass + a left join against the vocabulary — the same cost shape
    as the transform itself, so a pipeline can emit the gauge for free
    alongside every append. Aggregate per batch and alert on a
    threshold; the drift sibling of monitor_token_drift."""
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    vocab = model_postings.select("term").distinct().withColumn(
        "__known", F.lit(1)
    )
    per_doc = (
        tf.join(vocab, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("total_occurrences"),
            F.sum(F.when(F.col("__known").isNull(), F.col("tf")).otherwise(F.lit(0.0)))
            .cast("bigint")
            .alias("oov_occurrences"),
        )
    )
    return per_doc.select(
        F.col("doc_id").alias(id_col),
        "total_occurrences",
        "oov_occurrences",
        (
            F.col("oov_occurrences").cast("double")
            / F.col("total_occurrences").cast("double")
        ).alias("oov_rate"),
    )


def transform_tfidf_multichannel(
    docs: DataFrame,
    model_postings: DataFrame,
    channels: dict[str, tuple[int, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The multichannel transform half: weight NEW documents for ALL
    channels in ONE pass under the FROZEN per-channel models carried
    by an existing multichannel posting table — (channel, term, idf)
    is the model, out-of-channel-vocabulary terms drop, and each
    (channel, doc) pair L2-normalizes over its surviving terms. Same
    single-plan shape as fit_tfidf_multichannel (one scan, one
    explode, channel tag in the aggregation keys), so appending C
    channels costs one delta pass, not C."""
    toks = tokenize(F.col(text_col))

    def _tag(name: str):
        return lambda t: F.struct(F.lit(name).alias("channel"), t.alias("term"))

    tagged = []
    for name, ngr in channels.items():
        terms = toks if ngr == (1, 1) else word_ngrams_range(toks, ngr[0], ngr[1])
        tagged.append(F.transform(terms, _tag(name)))
    exploded = (
        ensure_min_partitions(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.flatten(F.array(*tagged))).alias("e"),
        )
        .select("doc_id", "e.channel", "e.term")
    )
    tf = exploded.groupBy("channel", "doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    model = model_postings.select("channel", "term", "idf").distinct()
    raw = tf.join(model, ["channel", "term"]).withColumn(
        "w_raw", F.col("tf") * F.col("idf")
    )
    norms = raw.groupBy("channel", "doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, ["channel", "doc_id"]).select(
        "channel",
        "term",
        "doc_id",
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )
