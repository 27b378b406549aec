"""Seeded input generators and the oracles that check results against them.

Everything here is plain Python, NumPy, pyarrow and DuckDB: no Spark, so
the program under test only ever sees the files written here, and the
oracles are computed independently of it.  The same ``(workload, seed)``
always yields byte-identical files.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import re
import shutil
import time
from collections import Counter
from pathlib import Path

import numpy as np

# Input sizes and traffic properties of each workload.  Changing any of
# these, or GENERATOR_VERSION, changes the cache key, so stale inputs are
# never reused; bump the version with any change to what a seed generates.
GENERATOR_VERSION = 2
TEXT_WORKLOADS = {
    # the paper's job: Zipf-skewed vocabulary, digit/punctuation separators
    "wordcount_text": dict(files=32, bytes_per_file=512 * 1024, vocab=60_000, zipf=1.1),
    # same corpus shape, smaller: every (word, file) pair goes through Python
    "mapreduce_python": dict(files=24, bytes_per_file=96 * 1024, vocab=30_000, zipf=1.1),
    # a backlog the stream drains in a fixed number of micro-batches
    "stream_wordcount": dict(files=4, bytes_per_file=256 * 1024, vocab=60_000, zipf=1.1),
}
DEDUP_WORKLOADS = {
    "dedup_clusters": dict(
        docs=1500, files=4, vocab=4000, min_words=40, max_words=90,
        dup_fraction=0.3, max_cluster=6,
    ),
}
WORKLOADS = {**TEXT_WORKLOADS, **DEDUP_WORKLOADS}

# Non-letter runs between tokens.  Digits and punctuation are separators
# under the reference tokenizer ([^A-Za-z]), so each of these splits words.
SEPARATORS = [" ", " ", " ", " ", "  ", ", ", ". ", "\n", "\n", "-", "'", "; ",
              " 42 ", " 1999 ", "\t", "!\n", " (7) ", ": ", "...", "\r\n"]
LOWER = "abcdefghijklmnopqrstuvwxyz"
LETTERS = LOWER + LOWER.upper()
TOKEN_RE = re.compile(rb"[A-Za-z]+")
DEDUP_THRESHOLD = 0.8
CACHED_INPUT_SETS = 8
SHINGLE_N = 3


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _vocab(rng: np.random.Generator, size: int, letters: str) -> list[str]:
    """``size`` distinct words in Zipf rank order.  Word lengths are a fixed
    function of rank (cycling through 3-10 letters) and only the letters
    are drawn, so every seed spends the same bytes per token."""
    codes = np.frombuffer(letters.encode(), dtype=np.uint8)
    lengths = 3 + (np.arange(size) * 5) % 8
    ends = np.cumsum(lengths)
    text = rng.choice(codes, int(ends[-1])).tobytes().decode()
    words: dict[str, None] = {}
    for start, end in zip((ends - lengths).tolist(), ends.tolist()):
        word = text[start:end]
        while word in words:
            word = rng.choice(codes, end - start).tobytes().decode()
        words[word] = None
    return list(words)


def _zipf_p(size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def cache_key(workload: str, seed: int) -> str:
    params = json.dumps([GENERATOR_VERSION, WORKLOADS[workload]], sort_keys=True)
    digest = hashlib.sha256(params.encode()).hexdigest()[:10]
    return f"{workload}-seed{seed}-{digest}"


def ensure_inputs(cache_dir: Path, workload: str, seed: int) -> tuple[Path, float]:
    """Generate the workload's inputs once per (workload, seed, size).

    Returns the input directory and the seconds spent generating (0.0 on a
    cache hit).  A half-written directory from an interrupted run is
    discarded, because the ``DONE`` marker is written last.  Only the
    ``CACHED_INPUT_SETS`` most recently generated input sets stay cached.
    """
    out = cache_dir / "inputs" / cache_key(workload, seed)
    if (out / "DONE").exists():
        return out, 0.0
    shutil.rmtree(out, ignore_errors=True)
    cached = sorted(
        (d for d in out.parent.glob("*") if (d / "DONE").exists()),
        key=lambda d: (d / "DONE").stat().st_mtime,
    )
    for old in cached[: max(0, len(cached) - CACHED_INPUT_SETS + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.perf_counter()
    data = out / "data"
    data.mkdir(parents=True)
    if workload in TEXT_WORKLOADS:
        write_text_corpus(data, seed, workload, **TEXT_WORKLOADS[workload])
    else:
        write_dedup_corpus(data, seed, workload, **DEDUP_WORKLOADS[workload])
    (out / "DONE").write_text("")
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Text corpora
# ---------------------------------------------------------------------------


def write_text_corpus(
    out: Path, seed: int, workload: str, files: int, bytes_per_file: int,
    vocab: int, zipf: float,
) -> None:
    """``files`` ASCII files named ``f00000.txt`` ... of just under
    ``bytes_per_file`` bytes: Zipf-ranked ``[A-Za-z]`` words separated by runs drawn from
    ``SEPARATORS``.  Some files open with a separator, as real text does."""
    rng = _rng(workload, seed)
    words = np.array(_vocab(rng, vocab, LETTERS), dtype=object)
    p = _zipf_p(vocab, zipf)
    seps = np.array(SEPARATORS, dtype=object)
    # draw more tokens than fit, then cut every file to the same size at a
    # separator, so input bytes do not vary with the seed's vocabulary
    tokens_per_file = bytes_per_file // 4
    for i in range(files):
        idx = rng.choice(vocab, tokens_per_file, p=p)
        sep = rng.integers(0, len(seps), tokens_per_file)
        lead = seps[rng.integers(0, len(seps))] if rng.random() < 0.3 else ""
        text = lead + "".join((words[idx] + seps[sep]).tolist())
        if len(text) < bytes_per_file:
            raise ValueError(f"drew too few tokens for {bytes_per_file} bytes")
        text = text[:bytes_per_file]
        cut = len(text.rstrip(LETTERS))
        (out / f"f{i:05d}.txt").write_bytes(text[:cut].encode("ascii"))


def text_files(data: Path) -> list[Path]:
    return sorted(data.glob("*.txt"))


def file_id(name: str) -> int:
    """``.../f00012.txt`` -> 12, the document id of a corpus file."""
    return int(os.path.basename(name)[1:6])


def word_count_oracle(data: Path) -> Counter:
    counts: Counter = Counter()
    for f in text_files(data):
        counts.update(TOKEN_RE.findall(f.read_bytes()))
    return Counter({w.decode(): c for w, c in counts.items()})


def inverted_index_oracle(data: Path) -> dict[str, str]:
    """word -> comma-joined ascending ids of the files containing it."""
    postings: dict[str, list[int]] = {}
    for f in text_files(data):
        for w in set(TOKEN_RE.findall(f.read_bytes())):
            postings.setdefault(w.decode(), []).append(file_id(f.name))
    return {w: ",".join(map(str, sorted(ids))) for w, ids in postings.items()}


# ---------------------------------------------------------------------------
# Near-duplicate documents
# ---------------------------------------------------------------------------


def _mutate(rng: np.random.Generator, doc: list[str], vocab: list[str]) -> list[str]:
    """Replace one word: ~3 of the doc's 3-shingles change, Jaccard ~0.9."""
    out = list(doc)
    out[int(rng.integers(0, len(out)))] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def write_dedup_corpus(
    out: Path, seed: int, workload: str, docs: int, files: int, vocab: int,
    min_words: int, max_words: int, dup_fraction: float, max_cluster: int,
) -> None:
    """Parquet ``(doc_id bigint, text string)`` with planted near-dup clusters.

    At least ``dup_fraction`` of the documents belong to clusters of 2 to
    ``max_cluster`` documents.  A *star* cluster holds one-word mutations of
    one base document; a *chain* mutates each member from the previous one,
    so its ends can fall below the threshold and only transitive closure
    joins them (graph diameter up to the chain length).  Ids are a random
    sample of a wider range, so the minimum id is not the first written.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(workload, seed)
    words = _vocab(rng, vocab, LOWER)
    lengths = itertools.count()

    def base() -> list[str]:
        # lengths cycle through min_words..max_words, so the corpus size
        # does not vary with the seed
        n = min_words + (next(lengths) * 7) % (max_words - min_words + 1)
        return [words[int(i)] for i in rng.integers(0, vocab, n)]

    # The cluster plan is fixed, not drawn: sizes cycle through
    # 2..max_cluster and kinds alternate, so every seed has the same
    # cluster sizes, the same longest chain and hence about the same
    # number of label-propagation rounds.  Only the text is random.
    texts: list[list[str]] = []
    clustered, k = 0, 0
    while clustered < docs * dup_fraction:
        size = 2 + k % (max_cluster - 1)
        chain = k % 2 == 0
        root = prev = base()
        texts.append(root)
        for _ in range(size - 1):
            prev = _mutate(rng, prev if chain else root, words)
            texts.append(prev)
        clustered += size
        k += 1
    while len(texts) < docs:
        texts.append(base())
    # Random capitalisation: the shingler lowercases, so it must not matter.
    cased = []
    for t in texts:
        flips = rng.random(len(t)) < 0.05
        cased.append(" ".join(w.capitalize() if f else w for w, f in zip(t, flips)))
    ids = rng.choice(len(texts) * 10, len(texts), replace=False).astype(np.int64) + 1
    order = rng.permutation(len(texts))
    for part, rows in enumerate(np.array_split(order, files)):
        table = pa.table({
            "doc_id": pa.array(ids[rows], pa.int64()),
            "text": pa.array([cased[i] for i in rows], pa.string()),
        })
        pq.write_table(table, out / f"part-{part:03d}.parquet")


# DuckDB replica of the exact-Jaccard clustering: shingles from lowercased
# whitespace tokens, pairs at Jaccard >= threshold, components labelled by
# their minimum doc id through recursive reachability.  The pair table is
# materialised first: a recursive CTE re-evaluates the CTEs it references
# on every step.
PAIRS_SQL = f"""
CREATE TABLE pairs AS
WITH tok AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
  FROM documents
), sh AS (
  SELECT doc, unnest(list_distinct(list_transform(
    range(1, greatest(len(w) - 2, 0) + 1),
    i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])))) AS shingle
  FROM tok
), sizes AS (
  SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc
), inter AS (
  SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d1, d2 FROM inter
JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
WHERE inter / (s1.sz + s2.sz - inter) >= {DEDUP_THRESHOLD}
"""
CLUSTERS_SQL = """
WITH RECURSIVE edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs
), reach AS (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
)
SELECT component, list_sort(list(node)) AS members
FROM comp GROUP BY component ORDER BY component
"""


def clusters_oracle(data: Path) -> dict[int, tuple[int, ...]]:
    """component id -> ascending member ids, over exact-Jaccard pairs."""
    import duckdb

    con = duckdb.connect()
    try:
        glob = str(data / "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
        con.execute(PAIRS_SQL)
        rows = con.execute(CLUSTERS_SQL).fetchall()
    finally:
        con.close()
    return {int(c): tuple(int(m) for m in members) for c, members in rows}
