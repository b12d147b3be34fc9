"""Seeded input generator for the benchmark.

Everything the program sees is made here from ``--seed``: the same seed
gives byte-identical parquet files and op schedules, another seed gives
different ones. Only numpy and pyarrow are used, so inputs never depend
on the engine under test.

Tables follow the shapes of the engine's sf0.1 corpus (``documents``
5 000 rows, ``embeddings`` 2 000 x 64, ``events`` 100 000 rows); ``scale``
shrinks them for the smoke tests (0.01 gives the sf0.001 sizes).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word list of the corpus, in Zipf rank order. The order is the same for
# every seed: a seed that ranked long words first would make a longer
# corpus, and keyword lookups scan every character. No entry is an engine
# stopword.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line fast row agg key "
    "query scan batch shard index cache commit manifest snapshot tensor "
    "token prompt agent memory topic embed rerank vacuum compact drain "
    "latency budget replica quorum ledger cursor"
).split()

ZIPF_S = 1.1
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
# a few function words per language, so language_id has signal to find
LANG_WORDS = {
    "de": ("der", "die", "und", "nicht"),
    "es": ("el", "los", "que", "por"),
    "fr": ("le", "les", "et", "pas"),
    "zh": (),
    "en": (),
}
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
DIM = 64
N_LABELS = 10
TS0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000

# Corpus properties that corpus_batch and rag_read depend on.
NEAR_DUP_SHARE = 0.08      # docs copied from an earlier doc with 1-2 edits
EXACT_DUP_SHARE = 0.02     # docs copied verbatim
VEC_NEAR_DUP_SHARE = 0.05  # vectors = earlier vector + small noise
LENIENT_JSON_SHARE = 0.05  # props in json5 style (unquoted keys, quotes, commas)
BROKEN_JSON_SHARE = 0.01   # props that no parser accepts
PUNCT_SHARE = 0.05         # words followed by ',' or '.'

# rag_read query mix
OOV_QUERY_SHARE = 0.10     # simple_rag queries made only of unknown terms
OOV_TERM_SHARE = 0.10      # other query terms replaced by an unknown term
N_QUERY_VECTORS = 64

# memory_write schedule
N_TOPICS = 200
TOPIC_ZIPF_S = 1.3
STREAM_FILES = 8


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *salt])


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def make_documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 2)
    words = np.array(VOCAB)
    p = zipf_probs(len(words), ZIPF_S)
    lengths = np.clip(np.rint(rng.lognormal(3.6, 0.5, n)), 3, 150).astype(int)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    kinds = rng.random(n)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and kinds[i] < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and kinds[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(
                    words[int(rng.choice(len(words), p=p))])
            texts.append(" ".join(toks))
            continue
        toks = list(words[rng.choice(len(words), size=lengths[i], p=p)])
        fw = LANG_WORDS[LANGS[langs[i]]]
        if fw:
            for j in rng.choice(len(toks), size=max(1, len(toks) // 8)):
                toks[int(j)] = fw[int(rng.integers(0, len(fw)))]
        for j in np.nonzero(rng.random(len(toks)) < PUNCT_SHARE)[0]:
            toks[int(j)] += "," if rng.random() < 0.5 else "."
        toks[0] = toks[0].capitalize()
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _centers(seed: int) -> np.ndarray:
    return _unit(_rng(seed, 3).standard_normal((N_LABELS, DIM)))


def make_embeddings(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, 4)
    centers = _centers(seed)
    labels = rng.integers(0, N_LABELS, n)
    vecs = _unit(centers[labels] + 0.9 * rng.standard_normal((n, DIM)) / np.sqrt(DIM) * 4)
    dup = np.nonzero(rng.random(n) < VEC_NEAR_DUP_SHARE)[0]
    for i in dup[dup > 0]:
        j = int(rng.integers(0, i))
        vecs[i] = _unit(vecs[j] + 0.02 * rng.standard_normal(DIM))
        labels[i] = labels[j]
    return _vector_table(np.arange(n), vecs, labels)


def _vector_table(ids, vecs, labels) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.asarray(ids), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(np.asarray(labels), pa.int32()),
    })


def make_query_vectors(seed: int) -> pa.Table:
    """Query bank for the vector lookups: near a cluster centre, not in
    the corpus."""
    rng = _rng(seed, 5)
    centers = _centers(seed)
    labels = rng.integers(0, N_LABELS, N_QUERY_VECTORS)
    vecs = _unit(centers[labels] + 0.5 * rng.standard_normal((N_QUERY_VECTORS, DIM)) / np.sqrt(DIM) * 4)
    return _vector_table(np.arange(N_QUERY_VECTORS), vecs, labels)


def _props(rng: np.random.Generator, n: int) -> tuple[list[str], int, int]:
    ks = rng.integers(0, 100, n)
    tags = rng.integers(0, 4, n)
    u = rng.random(n)
    out = []
    n_lenient = n_broken = 0
    for k, t, x in zip(ks, tags, u):
        if x < BROKEN_JSON_SHARE:
            out.append(f'{{"k": {k}, "tag": "t{t}"')  # unterminated
            n_broken += 1
        elif x < BROKEN_JSON_SHARE + LENIENT_JSON_SHARE:
            out.append(f"{{k: {k}, tag: 't{t}',}}")
            n_lenient += 1
        else:
            out.append(f'{{"k": {k}, "tag": "t{t}"}}')
    return out, n_lenient, n_broken


def make_events(seed: int, n: int, salt: int = 6, id0: int = 0) -> tuple[pa.Table, dict]:
    rng = _rng(seed, salt)
    ts = np.sort(TS0_US + rng.integers(0, 30 * DAY_US, n))
    users = np.minimum(rng.zipf(1.5, n), 2000) - 1
    types = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.gamma(2.0, 30.0, n), 2)
    props, n_lenient, n_broken = _props(rng, n)
    table = pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in types], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })
    return table, {"lenient_json": n_lenient, "broken_json": n_broken}


def write_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write documents/embeddings/events/query_vectors parquet under
    ``out_dir`` (the layout ``sources.tables.load_table`` reads) and
    return the input properties."""
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(50, round(5000 * scale))
    n_emb = max(50, round(2000 * scale))
    n_ev = max(200, round(100_000 * scale))
    docs = make_documents(seed, n_docs)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(make_embeddings(seed, n_emb), os.path.join(out_dir, "embeddings.parquet"))
    _write(make_query_vectors(seed), os.path.join(out_dir, "query_vectors.parquet"))
    events, jstats = make_events(seed, n_ev)
    _write(events, os.path.join(out_dir, "events.parquet"))
    lengths = np.array([len(t) for t in docs.column("text").to_pylist()])
    return {
        "documents": n_docs, "embeddings": n_emb, "events": n_ev,
        "vocab": len(VOCAB), "zipf_s": ZIPF_S,
        "doc_chars_p10_p50_p90": [int(x) for x in np.percentile(lengths, [10, 50, 90])],
        "near_dup_share": NEAR_DUP_SHARE, "exact_dup_share": EXACT_DUP_SHARE,
        "vec_near_dup_share": VEC_NEAR_DUP_SHARE,
        "lenient_json_rows": jstats["lenient_json"],
        "broken_json_rows": jstats["broken_json"],
    }


def write_stream_source(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Multi-file events source for the streaming drains:
    ``out_dir/events.parquet/part-0000i.parquet``."""
    src = os.path.join(out_dir, "events.parquet")
    os.makedirs(src, exist_ok=True)
    per = max(50, round(2500 * scale))
    for i in range(STREAM_FILES):
        t, _ = make_events(seed, per, salt=100 + i, id0=i * per)
        _write(t, os.path.join(src, f"part-{i:05d}.parquet"))
    return {"stream_files": STREAM_FILES, "stream_events": per * STREAM_FILES}


# --- op schedules ----------------------------------------------------------

def _oov_term(rng: np.random.Generator) -> str:
    return "zq" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 5))


# One rag_read cycle; the seed shuffles the order inside each cycle. Most
# lookups are keyword lookups, so the median sits well inside that class;
# the vector lookups form the tail class that p90 falls in, and one BM25
# lookup (about ten keyword lookups long) is the cycle's slowest op.
RAG_CYCLE = ("simple_rag",) * 24 + ("knn",) * 4 + ("mmr", "bm25")
# A keyword lookup costs in proportion to its number of terms, so every
# cycle holds the same term counts (and the same number of all-unknown
# queries); the seed only orders them and picks the terms.
RAG_TERMS = (2, 3, 4) * 8
RAG_OOV_QUERIES = round(OOV_QUERY_SHARE * len(RAG_TERMS))


def rag_op(seed: int, i: int) -> dict:
    """The i-th lookup of the rag_read stream."""
    cyc, slot = divmod(i, len(RAG_CYCLE))
    crng = _rng(seed, 10, cyc)
    kinds = [RAG_CYCLE[j] for j in crng.permutation(len(RAG_CYCLE))]
    terms_n = [RAG_TERMS[j] for j in crng.permutation(len(RAG_TERMS))]
    oov = set(crng.choice(len(RAG_TERMS), RAG_OOV_QUERIES, replace=False).tolist())
    kind = kinds[slot]
    rng = _rng(seed, 11, i)
    words = VOCAB
    p = zipf_probs(len(words), ZIPF_S)
    op = {"kind": kind, "k": 5}
    if kind == "simple_rag":
        q = kinds[:slot].count("simple_rag")  # index among this cycle's keyword lookups
        n = terms_n[q]
        if q in oov:
            terms = [_oov_term(rng) for _ in range(n)]
        else:
            terms = [words[int(j)] if rng.random() >= OOV_TERM_SHARE
                     else _oov_term(rng)
                     for j in rng.choice(len(words), size=n, p=p)]
        op["query"] = " ".join(terms)
    elif kind == "bm25":
        op["terms"] = sorted(words[int(j)] for j in
                             rng.choice(len(words), size=3, replace=False, p=p))
    else:
        op["qvec"] = int(rng.integers(0, N_QUERY_VECTORS))
    return op


# Records appended per memory_write turn: one cycle of turns holds each
# size once, in an order the seed picks, so every cycle ingests the same
# number of rows.
TURN_ROWS = (1, 2, 3, 5, 8, 12, 18, 27, 40, 60)


def memory_turn(seed: int, i: int, next_rec: int) -> dict:
    """The i-th agent turn of memory_write: the records it appends
    (Zipf-skewed topic keys, which the turn's merge then upserts)."""
    cyc, slot = divmod(i, len(TURN_ROWS))
    n = TURN_ROWS[_rng(seed, 21, cyc).permutation(len(TURN_ROWS))[slot]]
    rng = _rng(seed, 20, i)
    topics = rng.choice(N_TOPICS, size=n, p=zipf_probs(N_TOPICS, TOPIC_ZIPF_S))
    words = VOCAB
    rows = []
    for j in range(n):
        k = int(rng.integers(4, 20))
        text = " ".join(words[int(w)] for w in rng.integers(0, len(words), k))
        rows.append((next_rec + j, int(rng.integers(0, 50)), int(topics[j]),
                     TS0_US + i * 60_000_000 + j, text))
    return {"rows": rows}


def describe_inputs(seed: int, n_rag: int = 64, n_turns: int = 32) -> str:
    """Canonical JSON of the op schedules, for the determinism self-test."""
    turns, nxt = [], 0
    for i in range(n_turns):
        t = memory_turn(seed, i, nxt)
        nxt += len(t["rows"])
        turns.append(t)
    return json.dumps({"rag": [rag_op(seed, i) for i in range(n_rag)],
                       "memory": turns}, sort_keys=True)
