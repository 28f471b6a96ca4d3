"""Edge-document fixtures through the new text operators, Spark vs
DuckDB (mini driver_sim): empty text, single word, pure repetition,
multi-space runs — the degenerate shapes real corpora contain that the
driver's synthetic tables don't."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from _oracle import duckdb_views

from data_etl_spark.plans import REGISTRY

_DOCS = [
    (0, "", "en", "src0"),
    (1, "word", "en", "src0"),
    (2, "two words", "en", "src0"),
    (3, "spam spam spam spam spam spam spam spam", "en", "src1"),
    (4, "the   quick\tbrown    fox jumps over the lazy dog", "en", "src1"),
    (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "de", "src2"),
    (6, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "de", "src2"),
    # multi-byte chars interleaved with ASCII: pins the byte-vs-char
    # contract of the multimodal payload queries (both engines strip
    # non-ASCII before framing, so char == byte afterwards)
    (7, "naïve café über résumé — 模型 データ ☂ mixed ascii tail padding", "fr", "src3"),
]

_QUERIES = [
    "q_repetition_stats",
    "q_pack_sequences",
    "q_cdc_chunks",
    "q_dup_spans",
    "q_udtf_word_windows",
    "q_weighted_sample",
    # round-4 additions: empty text (doc 0) must yield no spans/frames,
    # the 4-char doc 1 is shorter than one audio frame, docs 5/6 are
    # exact duplicates (the only LSH candidate edge for pagerank)
    "q_dsir_scores",
    "q_tokenizer_vocab",
    "q_span_corruption",
    "q_cms_heavy_hitters",
    "q_audio_energy",
    "q_pagerank_dupgraph",
    # round-5: the full multimodal payload quartet on the non-ASCII doc
    "q_multimodal_meta",
    "q_frame_sample",
    "q_binary_features",
    "q_resize_assets",
    # round-5 dedup/curation additions: doc 7 (the non-ASCII doc) IS the
    # incremental batch (doc_id % 10 == 7); docs 5/6 are exact dups so
    # candidates/containment/curve all have non-trivial rows
    "q_incremental_dedup",
    "q_shingle_containment",
    "q_lsh_tuning_curve",
    "q_source_cap",
    # round-10 tokenizer-training pair: doc 0 (empty) must encode to
    # zero words, doc 3 (pure repetition) dominates the merge counts,
    # doc 7's non-[a-z0-9] words are excluded from learning AND encode
    "q_bpe_merges",
    "q_bpe_encode",
    # round 11: Heaps-law growth curve — doc 0 (empty) contributes no
    # tokens, dup docs 5/6 add tokens but no vocabulary, and the tiny
    # corpus exercises the beta-undefined (NULL) first row
    "q_heaps_law",
    # round 11: Zipf MLE on the degenerate 8-doc corpus (singleton
    # frequencies dominate; empty doc contributes nothing)
    "q_zipf_fit",
    # round 12: unigram-LM training — doc 0 (empty) contributes no
    # words, doc 3 (pure repetition) dominates the seed counts, doc 7's
    # non-[a-z0-9] and >8-char words are excluded identically
    "q_unigram_lm",
    # round 12: char entropy — empty doc drops out (no [a-z0-9] chars),
    # doc 3's single-word repetition pins the low-entropy end
    "q_char_entropy",
    # round 12: TF-IDF keywords — docs with < 3 distinct words emit
    # fewer than 3 rows; dup docs 5/6 share identical keyword sets
    "q_tfidf_keywords",
    # round 12: hash-sample audit on an 8-doc corpus (integer-exact
    # expectation rounding at tiny strata)
    "q_hash_sample",
]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_docs")
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in _DOCS], pa.int64()),
            "text": pa.array([r[1] for r in _DOCS]),
            "lang": pa.array([r[2] for r in _DOCS]),
            "source": pa.array([r[3] for r in _DOCS]),
            "n_chars": pa.array([len(r[1]) for r in _DOCS], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def _canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c] if isinstance(row, dict) else getattr(row, c)
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.mark.parametrize("name", _QUERIES)
def test_edge_docs_match_oracle(spark, fixture_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, fixture_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]

    con = duckdb_views(fixture_dir, ("documents",))
    odf = con.execute(q.oracle).df()
    oracle_rows = odf.to_dict("records")

    assert sorted(sdf.columns) == sorted(odf.columns.tolist())
    assert _canon(spark_rows, sdf.columns) == _canon(oracle_rows, sdf.columns), name
