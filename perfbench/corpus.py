"""Seeded inputs for the benchmark: corpus files, upsert batches and queries.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same seed gives byte-identical JSON-lines files and query lists.  The
engine only ever sees the files written by :func:`write_corpus` and the
query values returned by :func:`serve_queries`.

Vocabulary tokens are pseudo-words that the ``text_en`` analyzer leaves
unchanged (no stopword, Porter stem == token), so a DuckDB whitespace split
of the raw text is an independent oracle for the stored token arrays, while
the analyzer still runs on every token.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

from solr_map_reduce_spark.functions.analyzers import ENGLISH_STOP_WORDS, porter_stem
from solr_map_reduce_spark.operators.routing import ShardRouter

N_DOCS = 1000          # distinct base keys before repeats and near-dups
SHARDS = 4             # root shards of the artifact (routing of batch keys)
VOCAB = 3000
DIM = 32
CLUSTERS = 16
N_FILES = 4
REPEAT_FRAC = 0.05     # keys that reappear with a higher `ver`
NEARDUP_FRAC = 0.05    # keys whose body is a light edit of another body
BATCH_FRAC = 0.01      # upsert batch size as a share of the corpus
HEAD_RANK = 40         # head terms: ranks [0, HEAD_RANK)
TAIL_RANK = 800        # tail terms: ranks [TAIL_RANK, VOCAB)
QUERY_POOL = 400       # distinct query values per kind
LANGS = ("en", "de", "fr", "es")
LANG_P = (0.55, 0.2, 0.15, 0.1)
SOURCES = ("web", "news", "wiki", "forum", "code")
SOURCE_P = (0.4, 0.2, 0.2, 0.15, 0.05)

_ONSETS = "b c d f g h j k l m n p r s t v w z br dr gr kr pl tr st".split()
_VOWELS = "a e i o u".split()
_CODAS = ["", "", "", "n", "m", "k", "t", "r", "x"]


def _stable(word: str) -> bool:
    return word not in ENGLISH_STOP_WORDS and porter_stem(word) == word


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct pseudo-words that ``text_en`` maps to themselves."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        syll = int(rng.integers(2, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(syll)
        ) + _CODAS[rng.integers(len(_CODAS))]
        if w not in seen and _stable(w):
            seen.add(w)
            out.append(w)
    return out


def marker_token(batch: int) -> str:
    """A token unique to one upsert batch, outside the vocabulary."""
    letters = ""
    n = batch
    for _ in range(4):
        letters += "bcdfghjklmnpqrstvwz"[n % 19]
        n //= 19
    word = "qux" + letters + "o"
    if not _stable(word):  # pragma: no cover - the pattern is stem-stable
        raise ValueError(f"marker {word!r} is changed by text_en")
    return word


def doc_key(n: int) -> str:
    return f"d{n:07d}"


@dataclass
class Corpus:
    seed: int
    vocab: list[str]
    probs: np.ndarray
    centers: np.ndarray
    rows: list[dict]                      # every raw row, repeats included
    neardup_losers: set[str]              # keys the near-dup pass must drop
    files: list[str] = field(default_factory=list)
    raw_bytes: int = 0

    @property
    def head(self) -> list[str]:
        return self.vocab[:HEAD_RANK]

    @property
    def tail(self) -> list[str]:
        return self.vocab[TAIL_RANK:]


def _body(rng, vocab, probs) -> list[str]:
    n = int(rng.integers(40, 201))
    return [vocab[i] for i in rng.choice(len(vocab), size=n, p=probs)]


def _vector(rng, centers) -> list[float]:
    c = centers[rng.integers(len(centers))]
    v = c + 0.35 * rng.standard_normal(DIM)
    return [round(float(x), 5) for x in v]


def _doc(rng, vocab, probs, centers, key: str, ver: int, body=None) -> dict:
    return {
        "id": key,
        "ver": ver,
        "lang": LANGS[rng.choice(len(LANGS), p=LANG_P)],
        "source": SOURCES[rng.choice(len(SOURCES), p=SOURCE_P)],
        "text": " ".join(body if body is not None else _body(rng, vocab, probs)),
        "embedding": _vector(rng, centers),
    }


def make_corpus(seed: int, n_docs: int = N_DOCS) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng, VOCAB)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    probs = 1.0 / ranks ** 1.05
    probs /= probs.sum()
    centers = rng.standard_normal((CLUSTERS, DIM))
    rows: list[dict] = []
    n_dup = int(n_docs * NEARDUP_FRAC)
    n_base = n_docs - n_dup
    for i in range(n_base):
        rows.append(_doc(rng, vocab, probs, centers, doc_key(i), 1))
    # near-duplicates: a fresh key whose body swaps one token of a base body
    # of 100+ tokens (3-shingle Jaccard >= 0.94, so LSH at threshold 0.8
    # misses a pair with odds below 1e-6); bases are distinct, never repeated
    long_bodies = [i for i in range(n_base) if len(rows[i]["text"].split()) >= 100]
    bases = rng.choice(long_bodies, size=n_dup, replace=False)
    losers: set[str] = set()
    for j, b in enumerate(bases):
        key = doc_key(n_base + j)
        body = rows[int(b)]["text"].split()
        pos = int(rng.integers(len(body)))
        body[pos] = vocab[int(rng.integers(TAIL_RANK, VOCAB))]
        rows.append(_doc(rng, vocab, probs, centers, key, 1, body))
        losers.add(max(key, rows[int(b)]["id"]))  # min-id wins
    # repeats: a higher `ver` of keys that take part in no near-dup pair
    pair_keys = {doc_key(int(b)) for b in bases} | {
        doc_key(n_base + j) for j in range(n_dup)
    }
    candidates = [i for i in range(n_base) if doc_key(i) not in pair_keys]
    reps = rng.choice(candidates, size=int(n_docs * REPEAT_FRAC), replace=False)
    for i in reps:
        rows.append(
            _doc(rng, vocab, probs, centers, doc_key(int(i)), int(rng.integers(2, 5)))
        )
    return Corpus(seed, vocab, probs, centers, rows, losers)


def write_corpus(corpus: Corpus, out_dir: str) -> None:
    """Shuffle the rows into ``N_FILES`` JSON-lines files."""
    rng = np.random.default_rng([corpus.seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(len(corpus.rows))
    corpus.files = []
    corpus.raw_bytes = 0
    for f in range(N_FILES):
        path = os.path.join(out_dir, f"part-{f:02d}.jsonl")
        with open(path, "w") as fh:
            for i in order[f::N_FILES]:
                fh.write(json.dumps(corpus.rows[int(i)]) + "\n")
        corpus.files.append(path)
        corpus.raw_bytes += os.path.getsize(path)


def upsert_batch(corpus: Corpus, live: dict[str, int], batch: int) -> list[dict]:
    """One ``merge_into`` batch of about ``BATCH_FRAC`` of the corpus: half
    replaces live keys with a higher ``ver``, half adds new keys, and every
    body carries the batch marker.  Keys are drawn evenly over the root
    shards, so every batch rewrites all of them: a merge costs in touched
    shards, and a seed whose batch missed a shard would time a smaller
    operation."""
    rng = np.random.default_rng([corpus.seed, 3, batch])
    router = ShardRouter(shards=SHARDS)
    per_shard = max(1, round(len(corpus.rows) * BATCH_FRAC / (2 * SHARDS)))
    by_shard: dict[int, list[str]] = {s: [] for s in range(SHARDS)}
    for key in sorted(live):
        by_shard[router.shard_of(key)].append(key)
    keys = []
    for s in range(SHARDS):
        keys += [(by_shard[s][int(i)], live[by_shard[s][int(i)]] + 1)
                 for i in rng.choice(len(by_shard[s]), size=per_shard, replace=False)]
    fresh = (f"n{batch:04d}{j:05d}" for j in range(10**5))
    wanted = {s: per_shard for s in range(SHARDS)}
    while any(wanted.values()):
        key = next(fresh)
        if wanted[router.shard_of(key)]:
            wanted[router.shard_of(key)] -= 1
            keys.append((key, 1))
    mark = marker_token(batch)
    return [
        _doc(rng, corpus.vocab, corpus.probs, corpus.centers, key, ver,
             _body(rng, corpus.vocab, corpus.probs) + [mark])
        for key, ver in keys
    ]


KINDS = ("get", "bm25", "search", "facet", "knn")


def serve_queries(corpus: Corpus, live: dict[str, int], n: int, stream: int) -> list[tuple]:
    """``n`` queries in equal parts of the five kinds, interleaved, drawn
    with a skew from a per-kind pool of ``QUERY_POOL`` values.  Even pool
    entries use head terms, odd ones tail terms (Bloom pruning only helps
    tail terms); the first round of five reads head entries, the second
    tail entries, and so on."""
    rng = np.random.default_rng([corpus.seed, 4])
    keys = sorted(live)
    head, tail = corpus.head, corpus.tail

    def terms(i: int, k: int) -> list[str]:
        src = head if i % 2 == 0 else tail
        return [src[int(x)] for x in rng.choice(len(src), size=k, replace=False)]

    pools: dict[str, list] = {kind: [] for kind in KINDS}
    for i in range(QUERY_POOL):
        pools["get"].append(
            keys[int(rng.integers(len(keys)))] if rng.random() < 0.9
            else f"x{int(rng.integers(10**6)):07d}"
        )
        pools["bm25"].append(terms(i, 2))
        # a tail AND needs a head partner to match anything: AND(head, tail)
        # still lets the tail term prune shards
        pools["search"].append(
            (" AND ".join(terms(0, 1) + terms(i, 1)), LANGS[int(rng.integers(len(LANGS)))])
        )
        pools["facet"].append(terms(i, 1)[0])
        c = corpus.centers[int(rng.integers(CLUSTERS))]
        pools["knn"].append(
            [round(float(x), 5) for x in c + 0.35 * rng.standard_normal(DIM)]
        )
    # skewed draw over each half of the pool (low indexes repeat); rounds
    # alternate head and tail terms, so every run reads the same mix
    half = QUERY_POOL // 2
    weights = 1.0 / np.arange(1, half + 1) ** 0.6
    weights /= weights.sum()
    pick = np.random.default_rng([corpus.seed, 5, stream])
    out = []
    for q in range(n):
        kind = KINDS[q % len(KINDS)]
        parity = (q // len(KINDS)) % 2
        out.append((kind, pools[kind][2 * int(pick.choice(half, p=weights)) + parity]))
    return out
