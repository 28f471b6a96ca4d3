"""Seeded input generator for the benchmark.

Writes a folder of documents plus a manifest of what the pipeline should
make of it, and draws the query batches. Everything is a pure function of
the seed: one process, standard library and NumPy only, no downloads.

The folder mixes
- good documents (``.txt`` / ``.md``) whose lengths are log-normal, so a
  document yields 1 to 40 chunks at the pipeline's default chunking;
- files with extensions the pipeline does not ingest (gated at listing);
- ``.txt`` files whose bytes are not UTF-8 (the converter rejects them).

Words come from a fixed synthetic vocabulary with Zipf-skewed
frequencies, as in natural text: a few very common words and a long tail.
"""

from __future__ import annotations

import json
import os

import numpy as np

#: ETLConfig defaults the expected chunk counts are computed for.
CHUNK_SIZE = 1000
CHUNK_OVERLAP = 200
#: Characters per fake page of the fallback converter
#: (operators/convert.py): pages are re-joined with a blank line.
CONVERT_PAGE_CHARS = 800
MAX_CHUNKS = 40
#: Mean characters per good document (~7 chunks).
MEAN_CHARS = 5500

VOCAB_SIZE = 6000
#: The vocabulary is the same for every seed (a seed picks documents and
#: queries, not the language), so storage ratios do not move with it.
VOCAB_SEED = 20250101
ZIPF_S = 1.07
#: Seed of the warm-up (and recall-evaluation) queries, the same for every run.
WARM_SEED = 20250102
_SYLLABLES = (
    "ka ri to mo na lu se vi do pa re ti ga no mi su be la ko ze "
    "fu ha ye ro di ne sa qu bo wi te ma lo xi ru pe ca gi hu ve"
).split()

GATED_EXTENSIONS = ("docx", "csv", "png", "json")
QUERY_BATCH = 32


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase pseudo-words of 1 to 4 syllables."""
    rng = np.random.default_rng(VOCAB_SEED)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(1, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(size: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def expected_chunks(text: str) -> int:
    """Chunks the pipeline makes of a generated text.

    The fallback converter splits the text into 800-character pages and
    joins them with a blank line; generated texts are single-spaced
    lowercase words, which the normalizer leaves unchanged. Chunk count
    is then 1 + ceil(max(L - size, 0) / step), as in operators/chunking.
    """
    n_pages = max(1, -(-len(text) // CONVERT_PAGE_CHARS))
    length = len(text) + 2 * (n_pages - 1)
    step = CHUNK_SIZE - CHUNK_OVERLAP
    return 1 + max(0, -(-(length - CHUNK_SIZE) // step))


def _text(rng: np.random.Generator, vocab: list[str], probs: np.ndarray, n_chars: int) -> str:
    # average word + space is ~6 chars; draw generously, then cut at a
    # word boundary
    ids = rng.choice(len(vocab), size=n_chars // 4 + 8, p=probs)
    out: list[str] = []
    length = -1
    for i in ids:
        w = vocab[i]
        if length + 1 + len(w) > n_chars and out:
            break
        out.append(w)
        length += 1 + len(w)
    return " ".join(out)


def make_corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write the document folder; return (and store) its manifest."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    os.makedirs(out_dir)
    step = CHUNK_SIZE - CHUNK_OVERLAP
    max_chars = CHUNK_SIZE + (MAX_CHUNKS - 1) * step - 2 * MAX_CHUNKS
    docs: dict[str, int] = {}
    good_bytes = 0
    gated = undecodable = 0
    # log-normal lengths, rescaled so every seed asks for the same total
    # work: seeds move text between documents, not the amount of text
    lengths = rng.lognormal(8.2, 0.9, n_docs)
    for _ in range(8):
        lengths = np.clip(lengths * (n_docs * MEAN_CHARS / lengths.sum()), 120, max_chars)
    for i in range(n_docs):
        n_chars = int(lengths[i])
        ext = "md" if rng.random() < 0.3 else "txt"
        name = f"doc{i:05d}.{ext}"
        text = _text(rng, vocab, probs, n_chars)
        data = text.encode("ascii")
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        docs[name] = expected_chunks(text)
        good_bytes += len(data)
    # ~5% files the extension gate drops before they are opened
    for i in range(max(1, n_docs // 20)):
        ext = GATED_EXTENSIONS[i % len(GATED_EXTENSIONS)]
        with open(os.path.join(out_dir, f"other{i:04d}.{ext}"), "wb") as f:
            f.write(rng.bytes(int(rng.integers(200, 4000))))
        gated += 1
    # ~2% allowed-extension files that are not UTF-8 (0xff never is)
    for i in range(max(1, n_docs // 50)):
        with open(os.path.join(out_dir, f"broken{i:04d}.txt"), "wb") as f:
            f.write(b"\xff\xfe" + rng.bytes(int(rng.integers(200, 4000))))
        undecodable += 1
    manifest = {
        "seed": seed,
        "n_good": len(docs),
        "n_gated": gated,
        "n_undecodable": undecodable,
        "n_chunks": sum(docs.values()),
        "good_bytes": good_bytes,
        "chunks_per_doc": docs,
    }
    with open(os.path.join(os.path.dirname(out_dir), "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def _query(rng: np.random.Generator, vocab: list[str], probs: np.ndarray) -> str:
    """2 to 4 vocabulary words."""
    return " ".join(vocab[i] for i in rng.choice(len(vocab), int(rng.integers(2, 5)), p=probs))


def make_queries(seed: int, n_batches: int, pool: int = 64, n_warm: int = 2) -> dict:
    """Query streams for a retrieval session, and warm-up batches that
    double as the recall-evaluation set.

    - ``session``: batches drawn from a pool of ``pool`` queries with
      Zipf popularity (s = 1), each batch drawn afresh, so a query comes
      back in later batches while batches themselves do not repeat. The
      pool size and skew are assumptions, not measured traffic.
    - ``fresh``: batches of queries asked nowhere else in the run, the
      case a result cache can never answer.
    - ``warm``: ``n_warm`` batches, the same for every seed, so that a
      recall figure computed over them moves only when the program does.
    """
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    warm_rng = np.random.default_rng(WARM_SEED)
    warm = [_query(warm_rng, vocab, probs) for _ in range(n_warm * QUERY_BATCH)]
    rng = np.random.default_rng([seed, 1])
    used = set(warm)

    def query() -> str:
        while True:
            q = _query(rng, vocab, probs)
            if q not in used:
                used.add(q)
                return q

    pool_q = [query() for _ in range(pool)]
    pop = zipf_probs(pool, 1.0)
    return {
        "session": [
            [pool_q[i] for i in rng.choice(pool, QUERY_BATCH, p=pop)] for _ in range(n_batches)
        ],
        "fresh": [[query() for _ in range(QUERY_BATCH)] for _ in range(n_batches)],
        "warm": [warm[i : i + QUERY_BATCH] for i in range(0, len(warm), QUERY_BATCH)],
    }


def make_churn(seed: int, manifest: dict, n_edit: int = 8, n_new: int = 4, n_delete: int = 6) -> dict:
    """The index-churn schedule of a seed: documents to rewrite, new
    documents to add and documents to delete, all distinct.

    Returns ``{"edit": {name: text}, "new": {name: text}, "delete": [name]}``.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    names = sorted(manifest["chunks_per_doc"])
    picked = [names[i] for i in rng.choice(len(names), n_edit + n_delete, replace=False)]

    def text() -> str:
        return _text(rng, vocab, probs, int(np.clip(rng.lognormal(8.2, 0.9), 120, 20000)))

    return {
        "edit": {name: text() for name in picked[:n_edit]},
        "new": {f"new{i:04d}.txt": text() for i in range(n_new)},
        "delete": picked[n_edit:],
    }
