"""Seeded input generators for the benchmark.

Every input a workload feeds the engine comes from here, and only from the
``seed`` argument: the same seed gives byte-identical parquet files and the
same request stream. Each generator also returns the planted truths the
correctness checks compare against (exact and near duplicates, Gopher
failures, paraphrase clusters, label noise).

The tables mimic the engine's ``documents`` / ``embeddings`` fixture pair
(5 languages, 20 sources, 44-577 chars, 64-dim float embeddings) and feed
the text, dedup, similarity and ML layers. olap_mix reads the fixed sf0.1
relational tables under ``perfbench/data/`` instead; its seed only sets the
query order.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("de", "en", "es", "fr", "zh")
#: share of each language in the corpus, as in the engine's fixture tables
LANG_WEIGHTS = (0.14, 0.42, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_CHARS, MAX_CHARS = 44, 577
EMB_DIM = 64

#: the Gopher gate's stop list (operators.textops.STOPWORDS); a doc that
#: carries none of these fails the gate's ``min_distinct_stopwords`` rule
STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "on", "for")
#: words every language shares, as in the engine's fixture corpus
SHARED_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query key window row table stream merge data "
    "join vector customer big"
).split()

_SYLLABLES = {
    "de": "sch ei ung ach ber ge ich au kel dor".split(),
    "en": "th ing er ou ly wa sh ea st ro".split(),
    "es": "ci on ar que la de ue ra mo si".split(),
    "fr": "eu oi ai qu ment re au ou ll ie".split(),
    "zh": "zh ang ong xi ua ian ch en uo ai".split(),
}
_VOCAB_PER_LANG = 300


def _vocab() -> dict[str, list[str]]:
    """Per-language word lists. Fixed (seed-independent), so every seed
    poses the classifier the same difficulty."""
    rng = np.random.default_rng(20160315)
    out = {}
    for lang in LANGS:
        syl = _SYLLABLES[lang]
        words: dict[str, None] = {}
        while len(words) < _VOCAB_PER_LANG:
            n = int(rng.integers(2, 4))
            w = "".join(syl[int(i)] for i in rng.integers(0, len(syl), n))
            words.setdefault(w)
        out[lang] = list(words)
    return out


VOCAB = _vocab()


# --------------------------------------------------------------- documents


@dataclass
class Corpus:
    """A generated documents table plus its planted truths."""

    doc_id: np.ndarray
    text: list[str]
    lang: list[str]  # the label column (after label noise)
    true_lang: list[str]  # the language the text is written in
    source: list[str]
    embedding: np.ndarray  # float32, (n, EMB_DIM)
    #: later copies of an earlier doc, byte-identical text
    exact_dups: list[int] = field(default_factory=list)
    #: later copies with one word replaced (3-shingle Jaccard >= 0.8)
    near_dups: list[int] = field(default_factory=list)
    #: docs with no stop word, which the Gopher gate must reject
    gopher_fail: list[int] = field(default_factory=list)
    #: docs whose embedding is a perturbed copy of an earlier doc's
    paraphrases: list[int] = field(default_factory=list)
    #: docs whose label was flipped away from their text's language
    label_noise: list[int] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.text)


_POOLS = {
    lang: tuple(
        (np.asarray(ws, dtype=object), np.asarray([len(w) for w in ws]))
        for ws in (STOPWORDS, SHARED_WORDS, VOCAB[lang])
    )
    for lang in LANGS
}
_MAX_WORDS = MAX_CHARS // 2 + 1  # every word is at least 1 char + a space


def _doc_words(rng: np.random.Generator, lang: str, with_stop: bool) -> list[str]:
    """Words of one doc whose text is MIN_CHARS..MAX_CHARS long: 15% stop
    words (none when ``with_stop`` is false), 35% shared, the rest from
    the language's own vocabulary."""
    target = int(rng.integers(MIN_CHARS, MAX_CHARS + 1))
    r = rng.random(_MAX_WORDS)
    pick = rng.integers(0, 1 << 30, _MAX_WORDS)
    kind = np.where(r < 0.5, 1, 2)
    if with_stop:
        kind[r < 0.15] = 0
    pools = _POOLS[lang]
    idx = [pick % len(words) for words, _ in pools]
    lens = np.choose(kind, [lengths[i] for (_, lengths), i in zip(pools, idx)])
    ends = np.cumsum(lens + 1) - 1
    n = max(int(np.searchsorted(ends, target, side="right")), int(np.searchsorted(ends, MIN_CHARS)) + 1)
    words = [pools[k][0][idx[k][j]] for j, k in enumerate(kind[:n].tolist())]
    if with_stop and not any(w in STOPWORDS for w in words):
        words.insert(int(rng.integers(len(words) + 1)), "the")
        if int(ends[n - 1]) + 4 > MAX_CHARS:
            words.pop(-1 if words[-1] != "the" else -2)
    return words


_LANG_CDF = np.cumsum(LANG_WEIGHTS)[:-1]


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def make_corpus(
    seed: int,
    n_docs: int,
    *,
    exact_rate: float = 0.0,
    near_rate: float = 0.0,
    gopher_rate: float = 0.0,
    paraphrase_rate: float = 0.0,
    label_noise_rate: float = 0.0,
    id_offset: int = 0,
) -> Corpus:
    """A documents table of ``n_docs`` rows with planted duplicates,
    Gopher failures, paraphrase embeddings and label noise at the given
    rates. A planted copy always follows its original, so under the
    engine's keep-lowest-id policies the copy is the one dropped."""
    rng = np.random.default_rng([seed, n_docs, 1])
    texts: list[str] = []
    words_of: list[list[str]] = []
    langs: list[str] = []
    emb = np.empty((n_docs, EMB_DIM), dtype=np.float32)
    clean: list[int] = []  # docs that pass the gate and may be copied
    long_clean: list[int] = []  # ... and are long enough for a near copy
    by_lang: dict[str, list[int]] = {lang: [] for lang in LANGS}
    c = Corpus(np.arange(id_offset, id_offset + n_docs, dtype=np.int64), [], [], [], [], emb)
    noise = rng.standard_normal((n_docs, EMB_DIM))
    u_para = rng.random(n_docs)
    for i in range(n_docs):
        r = rng.random()
        if r < exact_rate and clean:
            j = clean[int(rng.integers(len(clean)))]
            words, lang = words_of[j], langs[j]
            c.exact_dups.append(i)
        elif r < exact_rate + near_rate and long_clean:
            j = long_clean[int(rng.integers(len(long_clean)))]
            words, lang = list(words_of[j]), langs[j]
            k = int(rng.integers(len(words)))
            own = VOCAB[lang]
            words[k] = own[(own.index(words[k]) + 1) % len(own)] if words[k] in own else own[0]
            c.near_dups.append(i)
        else:
            lang = LANGS[int(np.searchsorted(_LANG_CDF, rng.random(), side="right"))]
            fail = r < exact_rate + near_rate + gopher_rate
            words = _doc_words(rng, lang, with_stop=not fail)
            if fail:
                c.gopher_fail.append(i)
            else:
                clean.append(i)
                if len(words) >= 40:
                    long_clean.append(i)
        texts.append(" ".join(words))
        words_of.append(words)
        langs.append(lang)
        if by_lang[lang] and u_para[i] < paraphrase_rate:
            j = by_lang[lang][int(rng.integers(len(by_lang[lang])))]
            emb[i] = emb[j] + 0.02 * noise[i]
            c.paraphrases.append(i)
        else:  # unrelated docs embed as independent random directions
            emb[i] = noise[i]
        emb[i] /= np.linalg.norm(emb[i])
        by_lang[lang].append(i)
    labels = list(langs)
    for i in range(n_docs):
        if rng.random() < label_noise_rate:
            labels[i] = LANGS[(LANGS.index(langs[i]) + 1 + int(rng.integers(len(LANGS) - 1))) % len(LANGS)]
            c.label_noise.append(i)
    c.text = texts
    c.true_lang = langs
    c.lang = labels
    c.source = [f"src{int(s)}" for s in rng.integers(0, N_SOURCES, n_docs)]
    return c


def documents_table(c: Corpus) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(c.doc_id, pa.int64()),
            "text": pa.array(c.text, pa.string()),
            "lang": pa.array(c.lang, pa.string()),
            "source": pa.array(c.source, pa.string()),
            "n_chars": pa.array([len(t) for t in c.text], pa.int64()),
        }
    )


def vectors_array(v: np.ndarray) -> pa.Array:
    """(n, d) float32 → list<float>, the embeddings table's column type."""
    n, d = v.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1), pa.float32()))


def embeddings_table(c: Corpus) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(c.doc_id, pa.int64()),
            "embedding": vectors_array(c.embedding),
            "label": pa.array([LANGS.index(x) for x in c.true_lang], pa.int32()),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------- request stream

REQUEST_TYPES = ("classify", "nb_classify", "ann_mmr", "bm25", "gate")
#: distinct payloads per request type; with ZIPF_S this makes about a third
#: of the requests in a ten-request run repeat an earlier one
KEYS_PER_TYPE = 8
ZIPF_S = 1.1
DOCS_PER_REQUEST = 4


def request_stream(seed: int, n_cycles: int) -> list[tuple[str, int]]:
    """``n_cycles`` cycles of (request type, key) pairs, each cycle one
    request of every type in a seed-shuffled order. Keys are
    Zipf-distributed over KEYS_PER_TYPE per type, so popular requests
    repeat."""
    rng = np.random.default_rng([seed, 11])
    p = 1.0 / np.arange(1, KEYS_PER_TYPE + 1) ** ZIPF_S
    keys = rng.choice(KEYS_PER_TYPE, (n_cycles, len(REQUEST_TYPES)), p=p / p.sum())
    out = []
    for c in range(n_cycles):
        for t in rng.permutation(len(REQUEST_TYPES)):
            out.append((REQUEST_TYPES[int(t)], int(keys[c, t])))
    return out


@dataclass
class RequestPayloads:
    """What each (type, key) request carries."""

    docs: Corpus  # KEYS_PER_TYPE * DOCS_PER_REQUEST fresh docs for classify/nb
    query_vecs: np.ndarray  # (KEYS_PER_TYPE, DOCS_PER_REQUEST, EMB_DIM)
    bm25_queries: list[str]
    #: per gate key: (doc ids, texts, the ids that copy a corpus doc verbatim)
    gate_batches: list[tuple[list[int], list[str], list[int]]]

    def doc_slice(self, key: int) -> slice:
        return slice(key * DOCS_PER_REQUEST, (key + 1) * DOCS_PER_REQUEST)


def request_payloads(seed: int, corpus: Corpus) -> RequestPayloads:
    rng = np.random.default_rng([seed, 13])
    n = KEYS_PER_TYPE * DOCS_PER_REQUEST
    base = int(corpus.doc_id[-1]) + 1
    docs = make_corpus(seed + 1, n, id_offset=base)
    vecs = _unit(rng.standard_normal((KEYS_PER_TYPE, DOCS_PER_REQUEST, EMB_DIM)))
    queries = []
    for _ in range(KEYS_PER_TYPE):
        lang = LANGS[int(rng.integers(len(LANGS)))]
        k = int(rng.integers(2, 4))
        words = [VOCAB[lang][int(i)] for i in rng.integers(0, 40, k - 1)]
        queries.append(" ".join(words + [SHARED_WORDS[int(rng.integers(len(SHARED_WORDS)))]]))
    fresh = make_corpus(seed + 2, n, gopher_rate=0.0, id_offset=base + n)
    batches = []
    for key in range(KEYS_PER_TYPE):
        ids, texts, copies = [], [], []
        for j in range(DOCS_PER_REQUEST):
            new_id = base + 2 * n + key * DOCS_PER_REQUEST + j
            if j == 0:  # one verbatim copy of a corpus doc per batch
                src = int(rng.integers(len(corpus)))
                texts.append(corpus.text[src])
                copies.append(new_id)
            else:
                texts.append(fresh.text[key * DOCS_PER_REQUEST + j])
            ids.append(new_id)
        batches.append((ids, texts, copies))
    return RequestPayloads(docs, vecs, queries, batches)
