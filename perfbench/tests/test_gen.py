"""The benchmark's seeded input generator: the same seed gives
byte-identical inputs, and the planted truths hold.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _write_all(seed: int, out_dir: str) -> dict[str, bytes]:
    c = gen.make_corpus(
        seed, 400, exact_rate=0.05, near_rate=0.05, gopher_rate=0.05,
        paraphrase_rate=0.05, label_noise_rate=0.03,
    )
    files = {}
    for name, table in (("documents", gen.documents_table(c)), ("embeddings", gen.embeddings_table(c))):
        path = os.path.join(out_dir, f"{name}.parquet")
        gen.write_table(table, path)
        with open(path, "rb") as f:
            files[name] = f.read()
    return files


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _write_all(7, str(a)) == _write_all(7, str(b))


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _write_all(7, str(a))["documents"] != _write_all(8, str(b))["documents"]


def test_request_stream_and_payloads_are_seeded():
    c = gen.make_corpus(3, 200)
    assert gen.request_stream(3, 50) == gen.request_stream(3, 50)
    assert gen.request_stream(3, 50) != gen.request_stream(4, 50)
    p, q = gen.request_payloads(3, c), gen.request_payloads(3, c)
    assert p.docs.text == q.docs.text
    assert np.array_equal(p.query_vecs, q.query_vecs)
    assert p.bm25_queries == q.bm25_queries
    assert p.gate_batches == q.gate_batches


def test_request_stream_serves_whole_cycles():
    stream = gen.request_stream(5, 20)
    n = len(gen.REQUEST_TYPES)
    assert len(stream) == 20 * n
    for i in range(0, len(stream), n):
        assert sorted(t for t, _ in stream[i:i + n]) == sorted(gen.REQUEST_TYPES)
    assert all(0 <= k < gen.KEYS_PER_TYPE for _, k in stream)


@pytest.fixture(scope="module")
def corpus():
    return gen.make_corpus(
        11, 2000, exact_rate=0.05, near_rate=0.05, gopher_rate=0.05,
        paraphrase_rate=0.05, label_noise_rate=0.03,
    )


def test_text_shape(corpus):
    assert all(gen.MIN_CHARS <= len(t) <= gen.MAX_CHARS for t in corpus.text)
    assert set(corpus.true_lang) == set(gen.LANGS)
    assert len(set(corpus.source)) == gen.N_SOURCES


def test_planted_exact_duplicates_copy_an_earlier_doc(corpus):
    assert corpus.exact_dups
    for i in corpus.exact_dups:
        assert corpus.text[i] in corpus.text[:i]


def test_planted_near_duplicates_differ_by_one_word(corpus):
    assert corpus.near_dups
    for i in corpus.near_dups:
        words = corpus.text[i].split(" ")
        assert any(
            len(o) == len(words) and sum(a != b for a, b in zip(o, words)) == 1
            for o in (t.split(" ") for t in corpus.text[:i])
        )


def test_planted_gopher_failures_have_no_stop_word(corpus):
    assert corpus.gopher_fail
    for i in corpus.gopher_fail:
        assert not set(corpus.text[i].split(" ")) & set(gen.STOPWORDS)
    clean = set(range(len(corpus))) - set(corpus.gopher_fail)
    assert all(set(corpus.text[i].split(" ")) & set(gen.STOPWORDS) for i in clean)


def test_paraphrase_embeddings_sit_next_to_an_earlier_doc(corpus):
    e = corpus.embedding.astype(np.float64)
    assert np.allclose(np.linalg.norm(e, axis=1), 1.0, atol=1e-5)
    assert corpus.paraphrases
    for i in corpus.paraphrases:
        assert (e[:i] @ e[i]).max() > 0.95


def test_label_noise_flips_only_planted_labels(corpus):
    flipped = [i for i in range(len(corpus)) if corpus.lang[i] != corpus.true_lang[i]]
    assert flipped == corpus.label_noise
