"""Reference results the benchmark checks the program's outputs against.

Everything here is plain Python/numpy over the generated inputs: it shares
no code with the engine. Where the engine's semantics are fixed by the
reference agent (keyword overlap with a stable ``doc_id`` tiebreak) or by a
published formula (BM25 with quantized idf, integer MMR, SRP-LSH), the
replay below restates that rule independently.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
from decimal import Decimal

import numpy as np

_CLEAN = re.compile(r"[^\w\s]")


def clean(text: str) -> str:
    return _CLEAN.sub("", text.lower())


def query_keywords(query: str, stopwords: frozenset) -> list[str]:
    return [t for t in clean(query).split() if t and t not in stopwords]


def rag_topk(cleaned: list[str], query: str, k: int,
             stopwords: frozenset) -> list[tuple]:
    """Keyword overlap (substring containment of each query keyword in the
    text after ``clean``; ``cleaned`` holds the texts cleaned once), top-k
    by score desc with ties in doc_id order."""
    kws = query_keywords(query, stopwords)
    scored = [(-sum(1 for kw in kws if kw in t), i)
              for i, t in enumerate(cleaned)]
    scored.sort()
    return [(i, -s) for s, i in scored[:k]]


def doc_tokens(text: str, stopwords: frozenset) -> list[str]:
    return [t for t in clean(text).split() if t and t not in stopwords]


def bm25_topk(texts: list[str], terms: list[str], k: int,
              stopwords: frozenset) -> list[tuple]:
    """BM25 (k1=6/5, b=3/4) folded to the integer rational
    44*tf*T / (20*tf*T + 6*T + 18*dl*N), idf = ln(2(N+1)/(2df+1))
    quantized to integer micros; per-doc sum over the sorted terms."""
    terms = sorted(terms)
    toks = [doc_tokens(t, stopwords) for t in texts]
    n_docs, t_tokens = len(texts), sum(len(t) for t in toks)
    tfs = [{w: tk.count(w) for w in terms if w in tk} for tk in toks]
    df = {w: sum(1 for tf in tfs if w in tf) for w in terms}
    idf_u = {w: math.floor(math.log(2 * (n_docs + 1) / (2 * df[w] + 1)) * 1e6 + 0.5)
             for w in terms if df[w]}
    rows = []
    for i, tf in enumerate(tfs):
        if not tf:
            continue
        dl = len(toks[i])
        score = None
        for w in terms:
            c = 0.0
            if w in tf:
                c = (idf_u[w] / 1e6) * (
                    float(44 * tf[w] * t_tokens)
                    / float(20 * tf[w] * t_tokens + 6 * t_tokens + 18 * dl * n_docs))
            score = c if score is None else score + c
        rows.append((-score, i, len(tf)))
    rows.sort()
    return [(i, -s) for s, i, _ in rows[:k]]


def cosine_topk(vecs: np.ndarray, q: np.ndarray, k: int) -> list[tuple]:
    """Exact cosine of ``q`` against every row, top-k (cosine desc, id)."""
    v = vecs.astype(np.float64)
    qq = q.astype(np.float64)
    den = np.linalg.norm(v, axis=1) * np.linalg.norm(qq)
    cos = np.where(den != 0, v @ qq / np.where(den == 0, 1, den), 0.0)
    order = np.lexsort((np.arange(len(v)), -cos))[:k]
    return [(int(i), float(cos[i])) for i in order]


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    a, b = a.astype(np.float64), b.astype(np.float64)
    den = np.linalg.norm(a) * np.linalg.norm(b)
    return float(a @ b / den) if den else 0.0


def quantize(v: np.ndarray) -> np.ndarray:
    """floor(v * 1e6) of the float32 value widened to double."""
    return np.floor(v.astype(np.float64) * 1_000_000).astype(np.int64)


def mmr_q(vecs: np.ndarray, q: np.ndarray, k: int, n_cand: int) -> list[tuple]:
    """Integer MMR (lambda = 7/10) over the n_cand best candidates by
    quantized dot with the query; ties by doc id. Rows are
    (rank, doc_id, rel_q, mmr_q)."""
    qv = quantize(vecs)
    rel = qv @ quantize(q)
    cand = np.lexsort((np.arange(len(qv)), -rel))[:n_cand]
    cand = sorted(int(i) for i in cand)
    sims = {(a, b): int(qv[a] @ qv[b]) for a in cand for b in cand}
    chosen: list[int] = []
    out = []
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for i in cand:
            if i in chosen:
                continue
            s = (7 * int(rel[i]) - 3 * max(sims[(i, c)] for c in chosen)
                 if chosen else 10 * int(rel[i]))
            if best is None or (-s, i) < best:
                best = (-s, i)
        chosen.append(best[1])
        out.append((rank, best[1], int(rel[best[1]]), -best[0]))
    return out


# --- SRP-LSH near pairs ------------------------------------------------------

SRP_TABLES, SRP_BITS = 4, 8


def _srp_signs(dim: int) -> np.ndarray:
    """dim x (tables*bits) matrix of +-1: parity of md5("srp_t_j_i")[:8]."""
    m = np.empty((dim, SRP_TABLES * SRP_BITS), dtype=np.int64)
    for t in range(SRP_TABLES):
        for j in range(SRP_BITS):
            for i in range(dim):
                h = hashlib.md5(f"srp_{t}_{j}_{i}".encode()).hexdigest()
                m[i, t * SRP_BITS + j] = 1 if int(h[:8], 16) % 2 == 0 else -1
    return m


def srp_pairs(vecs: np.ndarray, threshold: float,
              max_bucket: int = 10_000) -> dict:
    """{(a, b): cosine} for pairs sharing a bucket in any table whose
    exact cosine is >= threshold."""
    d = quantize(vecs) @ _srp_signs(vecs.shape[1])
    bits = (d > 0).astype(np.int64)
    pw = 1 << np.arange(SRP_BITS)
    cand = set()
    for t in range(SRP_TABLES):
        keys = bits[:, t * SRP_BITS:(t + 1) * SRP_BITS] @ pw
        buckets: dict[int, list[int]] = {}
        for i, key in enumerate(keys):
            buckets.setdefault(int(key), []).append(i)
        for ids in buckets.values():
            if 2 <= len(ids) <= max_bucket:
                cand.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1:])
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for a, b in cand:
        c = float(unit[a] @ unit[b])
        if c >= threshold:
            out[(a, b)] = c
    return out


# --- text quality -----------------------------------------------------------

def quality_rows(texts: list[str], stopwords: frozenset) -> list[tuple]:
    """C4/Gopher-style per-doc signals with the engine's fixed weights."""
    out = []
    for i, t in enumerate(texts):
        n_chars = len(t)
        n_punct = n_chars - len(_CLEAN.sub("", t))
        n_alpha = len(re.sub(r"[^A-Za-z]", "", t))
        tk = [x for x in re.split(r"\s+", clean(t)) if x != ""]
        n_tok = len(tk)
        n_stop = sum(1 for x in tk if x in stopwords)
        tok_chars = sum(len(x) for x in tk)
        stop_r = n_stop / n_tok if n_tok else 0.0
        alpha_r = n_alpha / n_chars if n_chars else 0.0
        punct_r = n_punct / n_chars if n_chars else 0.0
        mean_tok = tok_chars / n_tok if n_tok else 0.0
        length_term = 1.0 if n_tok >= 20 else n_tok / 20.0
        q = ((0.4 * stop_r) + (0.3 * alpha_r) + (0.2 * length_term)) - (0.1 * punct_r)
        out.append((i, n_chars, n_tok, n_stop, stop_r, alpha_r, punct_r,
                    mean_tok, q))
    return out


_LENIENT = re.compile(r"^\{k: (\d+), tag: '(\w+)',\}$")
_STRICT = re.compile(r'^\{"k": (\d+), "tag": "(\w+)"\}$')


def canonical_props(props: str) -> str | None:
    """Canonical JSON (sorted keys, no spaces) of a generated props value;
    None for the deliberately broken ones."""
    m = _STRICT.match(props) or _LENIENT.match(props)
    if not m:
        return None
    return json.dumps({"k": int(m.group(1)), "tag": m.group(2)},
                      sort_keys=True, separators=(",", ":"))


# --- order-insensitive result hashing ---------------------------------------

def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if isinstance(v, np.generic):
        return _canon(v.item())
    return str(v)


def rows_digest(rows, columns: list[str] | None = None) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows). With ``columns``
    each row is a mapping and values are taken in sorted column order."""
    if columns is not None:
        cols = sorted(columns)
        rows = [tuple(r[c] for c in cols) for r in rows]
    lines = sorted("|".join(_canon(x) for x in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), h


# --- memory_write replay -----------------------------------------------------

class MemoryReplay:
    """The op schedule of memory_write applied to Python dicts: the final
    state the two tx tables must hold."""

    def __init__(self):
        self.records: dict[int, tuple] = {}
        self.topics: dict[int, list] = {}

    def append(self, rows):
        for r in rows:
            self.records[r[0]] = r

    @staticmethod
    def deltas(rows) -> dict[int, tuple]:
        d: dict[int, list] = {}
        for r in rows:
            e = d.setdefault(r[2], [0, r[3]])
            e[0] += 1
            e[1] = max(e[1], r[3])
        return {k: tuple(v) for k, v in d.items()}

    def merge(self, deltas: dict[int, tuple]):
        for k, (n, ts) in deltas.items():
            if k in self.topics:
                self.topics[k][0] += n
                self.topics[k][1] = max(self.topics[k][1], ts)
            else:
                self.topics[k] = [n, ts]

    def delete_range(self, lo: int, hi: int):
        for rid in [r for r in self.records if lo <= r <= hi]:
            del self.records[rid]

    def user_bytes(self) -> int:
        """Live user payload: 8 bytes per integer field plus UTF-8 text of
        every live record, and 24 bytes per topic row."""
        rec = sum(32 + len(r[4].encode()) for r in self.records.values())
        return rec + 24 * len(self.topics)


def topic_frequencies(events) -> dict[str, tuple]:
    """{event_type: (count, max ts_us)} over an events pyarrow table."""
    out: dict[str, list] = {}
    ts = events.column("ts").cast("int64").to_pylist()
    for et, t in zip(events.column("event_type").to_pylist(), ts):
        e = out.setdefault(et, [0, t])
        e[0] += 1
        e[1] = max(e[1], t)
    return {k: tuple(v) for k, v in out.items()}


def tx_sink_census(events) -> dict[str, tuple]:
    """{event_type: (count, sum of value in cents, max ts_us)}."""
    out: dict[str, list] = {}
    ts = events.column("ts").cast("int64").to_pylist()
    for et, v, t in zip(events.column("event_type").to_pylist(),
                        events.column("value").to_pylist(), ts):
        e = out.setdefault(et, [0, 0, t])
        e[0] += 1
        e[1] += math.floor(v * 100 + 0.5)
        e[2] = max(e[2], t)
    return {k: tuple(v) for k, v in out.items()}
