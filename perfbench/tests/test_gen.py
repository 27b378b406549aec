"""Generator determinism and the oracles' agreement with the inputs."""

import re
from collections import Counter

import pytest

from perfbench import gen

TEXT = dict(files=3, bytes_per_file=8192, vocab=300, zipf=1.1)
DEDUP = dict(docs=80, files=2, vocab=400, min_words=60, max_words=80,
             dup_fraction=0.5, max_cluster=4)


def _read_all(d):
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_text_corpus_same_seed_same_bytes(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d in (a, b, c):
        d.mkdir()
    gen.write_text_corpus(a, 7, "wordcount_text", **TEXT)
    gen.write_text_corpus(b, 7, "wordcount_text", **TEXT)
    gen.write_text_corpus(c, 8, "wordcount_text", **TEXT)
    assert _read_all(a) == _read_all(b)
    assert _read_all(a) != _read_all(c)


def test_text_files_are_cut_to_size_at_a_separator(tmp_path):
    gen.write_text_corpus(tmp_path, 3, "wordcount_text", **TEXT)
    for data in _read_all(tmp_path).values():
        assert TEXT["bytes_per_file"] - 16 < len(data) <= TEXT["bytes_per_file"]
        assert not data[-1:].isalpha()


def test_word_count_oracle_matches_reference_tokenizer(tmp_path):
    gen.write_text_corpus(tmp_path, 5, "wordcount_text", **TEXT)
    expected = Counter()
    for data in _read_all(tmp_path).values():
        # the reference: every non-letter byte is a separator
        expected.update(w for w in re.split(r"[^A-Za-z]", data.decode()) if w)
    assert gen.word_count_oracle(tmp_path) == expected


def test_inverted_index_oracle_lists_each_file_once(tmp_path):
    gen.write_text_corpus(tmp_path, 5, "mapreduce_python", **TEXT)
    index = gen.inverted_index_oracle(tmp_path)
    assert len(index) == len(gen.word_count_oracle(tmp_path))
    for postings in index.values():
        ids = [int(i) for i in postings.split(",")]
        assert ids == sorted(set(ids)) and set(ids) <= {0, 1, 2}


def test_dedup_corpus_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    gen.write_dedup_corpus(a, 1, "dedup_clusters", **DEDUP)
    gen.write_dedup_corpus(b, 1, "dedup_clusters", **DEDUP)
    assert _read_all(a) == _read_all(b)


def test_dedup_oracle_finds_the_planted_clusters(tmp_path):
    pytest.importorskip("duckdb")
    gen.write_dedup_corpus(tmp_path, 2, "dedup_clusters", **DEDUP)
    clusters = gen.clusters_oracle(tmp_path)
    sizes = sorted(len(m) for m in clusters.values())
    # the plan cycles sizes 2, 3, 4 until half of the 80 docs are clustered
    assert sizes == sorted([2, 3, 4] * 4 + [2, 3])
    for component, members in clusters.items():
        assert component == members[0] and list(members) == sorted(members)


def test_cache_key_changes_with_parameters(monkeypatch):
    key = gen.cache_key("wordcount_text", 1)
    assert key == gen.cache_key("wordcount_text", 1)
    assert key != gen.cache_key("wordcount_text", 2)
    monkeypatch.setitem(gen.WORKLOADS, "wordcount_text",
                        {**gen.WORKLOADS["wordcount_text"], "files": 1})
    assert key != gen.cache_key("wordcount_text", 1)
