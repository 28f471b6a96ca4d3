"""End-to-end tests for the ETLPipeline orchestrator (E1/E2/E3 parity):
ingest -> idempotent re-ingest -> incremental skip -> upsert -> delete ->
search, against a tmp Parquet index table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_spark.etl import ETLConfig, ETLPipeline


@pytest.fixture()
def docs(spark):
    rows = [
        (f"doc_{i}.{ext}", f"word{i} " * (40 + i * 7))
        for i, ext in enumerate(["pdf", "txt", "md", "exe", "pdf", "md"])
    ]
    return spark.createDataFrame(rows, "filename string, text string")


@pytest.fixture()
def pipe(spark, tmp_path):
    cfg = ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    return ETLPipeline(spark, str(tmp_path / "index"), cfg)


def test_ingest_gates_extensions_and_chunks(pipe, docs):
    stats = pipe.ingest(docs)
    # doc_3.exe is gated out (F1 whitelist)
    assert stats["n_documents"] == 5
    idx = pipe.index_table()
    names = {r.filename for r in idx.select("filename").distinct().collect()}
    assert "doc_3.exe" not in names and len(names) == 5
    # chunk identity: contiguous 0-based chunk_idx per doc (W2)
    per = idx.groupBy("filename").agg(
        F.min("chunk_idx").alias("lo"), F.max("chunk_idx").alias("hi"), F.count("*").alias("n")
    )
    for r in per.collect():
        assert r.lo == 0 and r.n == r.hi + 1
    # embeddings present and fixed-dim
    dims = idx.select(F.size("embedding").alias("d")).distinct().collect()
    assert [d.d for d in dims] == [8]


def test_reingest_is_idempotent(pipe, docs):
    first = pipe.ingest(docs)
    second = pipe.ingest(docs)  # delete-then-add J6: same result
    assert first == second


def test_incremental_skip_and_upsert(pipe, docs, spark):
    pipe.ingest(docs)
    before = pipe.index_table().filter(F.col("filename") == "doc_0.pdf").count()

    # force=False skips already-indexed documents entirely (N1)
    longer = spark.createDataFrame(
        [("doc_0.pdf", "completely new text " * 100)], "filename string, text string"
    )
    pipe.ingest(longer, force=False)
    assert pipe.index_table().filter(F.col("filename") == "doc_0.pdf").count() == before

    # force=True replaces the document's chunks (upsert J5/J6)
    pipe.ingest(longer, force=True)
    after = pipe.index_table().filter(F.col("filename") == "doc_0.pdf")
    assert after.count() > before
    txt = after.filter(F.col("chunk_idx") == 0).collect()[0].chunk_text
    assert txt.startswith("completely new text")


def test_delete_documents(pipe, docs):
    pipe.ingest(docs)
    pipe.delete_documents(["doc_0.pdf", "doc_2.md"])
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"doc_1.txt", "doc_4.pdf", "doc_5.md"}


def _bucket_files(index_path):
    """{bucket-dir/file: (mtime, inode)} for every live bucket data file."""
    import os

    snap = {}
    for d in os.listdir(index_path):
        if d.startswith("bucket="):
            full = os.path.join(index_path, d)
            for f in os.listdir(full):
                st = os.stat(os.path.join(full, f))
                snap[f"{d}/{f}"] = (st.st_mtime_ns, st.st_ino)
    return snap


def test_upsert_rewrites_only_affected_buckets(pipe, docs, spark):
    import zlib

    pipe.ingest(docs)
    before = _bucket_files(pipe.index_path)
    target = "doc_0.pdf"
    b = zlib.crc32(target.encode()) % pipe.config.n_buckets
    assert any(not k.startswith(f"bucket={b}/") for k in before), "fixture needs >1 bucket"

    upd = spark.createDataFrame([(target, "fresh text " * 50)], "filename string, text string")
    pipe.ingest(upd, force=True)
    after = _bucket_files(pipe.index_path)

    # every file outside the target's bucket is bit-identical on disk:
    # same path, same mtime, same inode (never rewritten, never moved)
    for k, v in before.items():
        if not k.startswith(f"bucket={b}/"):
            assert after[k] == v, k
    # the target's bucket WAS rewritten (fresh files)
    tb_before = {(k, v) for k, v in before.items() if k.startswith(f"bucket={b}/")}
    tb_after = {(k, v) for k, v in after.items() if k.startswith(f"bucket={b}/")}
    assert tb_before and tb_after and tb_before != tb_after
    # and the upsert took effect
    txt = (
        pipe.index_table()
        .filter((F.col("filename") == target) & (F.col("chunk_idx") == 0))
        .collect()[0]
        .chunk_text
    )
    assert txt.startswith("fresh text")


def test_delete_rewrites_only_affected_buckets(pipe, docs):
    import zlib

    pipe.ingest(docs)
    before = _bucket_files(pipe.index_path)
    target = "doc_1.txt"
    b = zlib.crc32(target.encode()) % pipe.config.n_buckets

    pipe.delete_documents([target])
    after = _bucket_files(pipe.index_path)
    for k, v in before.items():
        if not k.startswith(f"bucket={b}/"):
            assert after[k] == v, k
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert target not in names


def test_metadata_and_search(pipe, docs):
    pipe.ingest(docs)
    meta = pipe.documents_metadata().collect()
    assert all(m.n_chunks > 0 and m.total_tokens > 0 for m in meta)

    hits = pipe.search(["word0 word0 word0", "word5"], k=3).collect()
    assert len(hits) == 6  # 2 queries x top-3
    by_q = {}
    for h in hits:
        by_q.setdefault(h.q_vec_id, []).append(h)
    for q, hs in by_q.items():
        ranks = sorted(h.rank for h in hs)
        assert ranks == [1, 2, 3]
        scores = [h.score for h in sorted(hs, key=lambda x: x.rank)]
        assert scores == sorted(scores, reverse=True)


def test_empty_index_reads_typed_empty(pipe):
    idx = pipe.index_table()
    assert idx.count() == 0
    assert "embedding" in idx.columns


def _drain(pipe, src, timeout=300):
    """``pipe.ingest_stream(src)`` in a thread: a drain that does not
    finish within ``timeout`` seconds fails the test, not the suite."""
    from concurrent.futures import ThreadPoolExecutor, TimeoutError

    pool = ThreadPoolExecutor(1)
    try:
        pool.submit(pipe.ingest_stream, str(src)).result(timeout)
    except TimeoutError:
        for q in pipe.spark.streams.active:
            q.stop()
        pytest.fail(f"ingest_stream did not finish within {timeout} s")
    finally:
        pool.shutdown(wait=False)


def test_ingest_stream_incremental(pipe, spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "a.txt").write_text("streaming alpha " * 30)
    (src / "b.md").write_text("# B\nstreaming beta " * 30)

    _drain(pipe, src)
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"a.txt", "b.md"}
    a_chunks = pipe.index_table().filter(F.col("filename") == "a.txt").count()

    # add one file; re-drain: only the new file is processed (checkpoint
    # remembers a.txt/b.md), existing chunks unchanged
    (src / "c.txt").write_text("streaming gamma " * 30)
    _drain(pipe, src)
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"a.txt", "b.md", "c.txt"}
    assert pipe.index_table().filter(F.col("filename") == "a.txt").count() == a_chunks
    # the micro-batch's metrics are observed on its write, as in a batch ingest
    c_chunks = pipe.index_table().filter(F.col("filename") == "c.txt").count()
    assert pipe.last_ingest_metrics["chunks_written"] == c_chunks


def _index_digest(pipe):
    return sorted(
        (r.filename, r.chunk_idx, r.chunk_text, r.n_tokens, tuple(r.embedding))
        for r in pipe.index_table().collect()
    )


def test_stream_and_batch_give_the_same_index(spark, tmp_path):
    """process_folder and ingest_stream read a folder with one scan and
    one converter: the undecodable .txt fails conversion and the .csv is
    never listed on both paths, so both build the same index."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("alpha words " * 40)
    (src / "b.md").write_text("# Beta\n\nbeta body " * 30)
    (src / "c.txt").write_text("gamma " * 25)
    (src / "broken.txt").write_bytes(b"\xff\xfe not utf-8 \xc3")
    (src / "table.csv").write_text("x,y\n1,2\n")
    cfg = ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    batch = ETLPipeline(spark, str(tmp_path / "batch"), cfg)
    batch.process_folder(str(src))
    stream = ETLPipeline(spark, str(tmp_path / "stream"), cfg)
    _drain(stream, src)
    assert {r[0] for r in _index_digest(batch)} == {"a.txt", "b.md", "c.txt"}
    assert _index_digest(stream) == _index_digest(batch)


def test_folder_and_dataframe_ingest_gate_extensions_alike(spark, tmp_path):
    """One extension rule for both ingest paths, the reference's
    case-sensitive ``split(".")[-1] in allowed`` (F1): process_folder of
    a folder and ingest of a DataFrame holding the same two files index
    the same one, ``low.txt``, not ``UP.TXT``."""
    src = tmp_path / "in"
    src.mkdir()
    files = {"UP.TXT": "upper case words " * 30, "low.txt": "lower case words " * 30}
    for name, text in files.items():
        (src / name).write_text(text)
    cfg = ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    folder = ETLPipeline(spark, str(tmp_path / "folder"), cfg)
    folder.process_folder(str(src))
    frame = ETLPipeline(spark, str(tmp_path / "frame"), cfg)
    frame.ingest(spark.createDataFrame(list(files.items()), "filename string, text string"))
    names = lambda p: {r.filename for r in p.index_table().select("filename").distinct().collect()}
    assert names(folder) == names(frame) == {"low.txt"}


def test_ann_index_build_and_search(pipe, docs):
    pipe.ingest(docs)
    path = pipe.build_ann_index(n_cells=3, kmeans_iter=2)
    import os
    assert os.path.isdir(path)
    # cell-partitioned layout on disk
    assert any(d.startswith("cell=") for d in os.listdir(path))
    hits = pipe.ann_search(["word1 word1", "word5"], k=2).collect()
    assert 1 <= len(hits) <= 4  # <= 2 queries x top-2 (cells may hold < k)
    for h in hits:
        assert h.score <= 1.000001


def test_ann_index_dropped_by_a_commit(pipe, docs):
    """A commit drops the IVF copy: it indexes rows the index no longer
    holds, so ann_search asks for a rebuild instead of serving them."""
    pipe.ingest(docs)
    pipe.build_ann_index(n_cells=3, kmeans_iter=2)
    names = [r.filename for r in pipe.index_table().select("filename").distinct().collect()]
    pipe.delete_documents(names)
    assert pipe.index_table().count() == 0
    with pytest.raises(ValueError, match="build_ann_index"):
        pipe.ann_search(["word1 word1"], k=3)


def test_ann_index_outlives_the_pipeline_that_built_it(pipe, docs, spark):
    pipe.ingest(docs)
    pipe.build_ann_index(n_cells=3, kmeans_iter=2)
    queries = ["word1 word1", "word5"]
    rows = sorted(pipe.ann_search(queries, k=2).collect())
    again = ETLPipeline(spark, pipe.index_path, pipe.config)
    assert sorted(again.ann_search(queries, k=2).collect()) == rows
    assert rows


def test_save_config_merges_types(pipe):
    c1 = pipe.save_config("qdrant", "jina/jina-embeddings-v2-small-en")
    assert c1["types"] == ["qdrant"] and c1["model"] == "jina_jina-embeddings-v2-small-en"
    c2 = pipe.save_config("faiss", "jina/jina-embeddings-v2-small-en")
    assert c2["types"] == ["faiss", "qdrant"]  # A6 distinct-set merge
    # different model => fresh config, no merge
    c3 = pipe.save_config("qdrant", "other/model")
    assert c3["types"] == ["qdrant"]


def test_save_config_survives_torn_write(pipe, monkeypatch):
    """A crash part-way through writing the manifest keeps the previous
    one: it still loads, and the next save_config merges into it."""
    import json

    first = pipe.save_config("qdrant", "jina/jina-embeddings-v2-small-en")

    def torn_dump(obj, f, *a, **kw):
        f.write(json.dumps(obj)[:10])
        raise OSError("injected crash")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError):
            pipe.save_config("faiss", "jina/jina-embeddings-v2-small-en")
    with open(pipe.index_path + ".config.json") as f:
        assert json.load(f) == first
    again = pipe.save_config("faiss", "jina/jina-embeddings-v2-small-en")
    assert again["types"] == ["faiss", "qdrant"]


def test_benchmark_layer_hooks_install_and_restore(pipe, docs, monkeypatch):
    """The benchmark's traced run wraps pipeline hook points by name
    (perfbench/workloads.py::Layers): renaming one in etl.py must fail
    this suite, not only a traced benchmark run."""
    import contextlib
    import os

    import data_etl_spark.etl as etl_mod

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    from workloads import Layers

    spans = []

    class Tracer:
        @contextlib.contextmanager
        def span(self, name, op):
            yield {}
            spans.append((name, op))

    merge = etl_mod.merge_by_key
    layers = Layers(Tracer(), pipe).install()
    try:
        pipe.ingest(docs)  # bootstrap: a whole-index commit
        pipe.ingest(docs.limit(1))  # upsert: merge + bucket swap
    finally:
        layers.restore()
    assert spans == [
        ("chunk", "chunk_documents"),
        ("commit", "_rewrite"),
        ("chunk", "chunk_documents"),
        ("merge", "merge_by_key"),
        ("commit", "_swap_buckets"),
    ]
    assert etl_mod.merge_by_key is merge
    assert not {"_rewrite", "_swap_buckets", "chunk_documents"} & set(vars(pipe))


def test_benchmark_retrieval_hooks_install_and_restore(pipe, docs, monkeypatch):
    """The traced benchmark's retrieval spans (perfbench/workloads.py::
    Layers): ``build_ann_index`` records k-means and the IVF write.
    ``search`` is exact top-k and no longer calls the hooked
    ``planner.auto_knn``, so it records no ``knn`` span. Renaming one of
    these hook points must fail this suite."""
    import contextlib
    import os

    import data_etl_spark.operators.ivf as ivf_mod
    import data_etl_spark.operators.kmeans as kmeans_mod
    import data_etl_spark.operators.planner as planner_mod

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    from workloads import Layers

    spans = []

    class Tracer:
        @contextlib.contextmanager
        def span(self, name, op):
            attrs = {}
            yield attrs
            spans.append((name, op, attrs.get("ivf_branch")))

    pipe.ingest(docs)
    originals = (planner_mod.auto_knn, kmeans_mod.kmeans_fit, ivf_mod.build_ivf_index)
    layers = Layers(Tracer(), pipe).install()
    try:
        pipe.search(["word1"], k=2).collect()
        pipe.build_ann_index(n_cells=2, kmeans_iter=1)
    finally:
        layers.restore()
    assert spans == [
        ("kmeans", "kmeans_fit", None),
        ("ivf_write", "build_ivf_index", None),
    ]
    assert (planner_mod.auto_knn, kmeans_mod.kmeans_fit, ivf_mod.build_ivf_index) == originals


def test_search_ties_break_on_ascending_chunk_id(pipe, spark):
    """Two files with identical text score identically on every
    retrieval path; the tie goes to the smaller ``filename#chunk_idx``
    whatever the ingest order."""
    text = "the same short text"
    pipe.ingest(
        spark.createDataFrame([("b.txt", text), ("a.txt", text)], "filename string, text string")
    )
    for name, res in [
        ("exact", pipe.search([text], k=2)),
        ("hybrid", pipe.hybrid_search([text], k=2)),
    ]:
        ranked = [r.c_vec_id for r in sorted(res.collect(), key=lambda r: r.rank)]
        assert ranked == ["a.txt#0", "b.txt#0"], name


def test_compact_restores_one_file_per_bucket(pipe, docs):
    import glob
    import os
    import shutil

    pipe.ingest(docs)
    n_rows = pipe.index_table().count()
    # simulate small-file accretion: add extra part files to one bucket
    bucket_dirs = glob.glob(os.path.join(pipe.index_path, "bucket=*"))
    assert bucket_dirs
    target = bucket_dirs[0]
    rows = pipe.spark.read.parquet(target)
    rows.repartition(3).write.mode("overwrite").parquet(target + ".tmp")
    for f in os.listdir(target + ".tmp"):
        if f.endswith(".parquet"):
            os.replace(
                os.path.join(target + ".tmp", f), os.path.join(target, "extra_" + f)
            )
    shutil.rmtree(target + ".tmp")
    assert len(glob.glob(os.path.join(target, "*.parquet"))) > 1
    # files written outside the commit path move no index version: a
    # pipeline that read the index before keeps its listing, a new one
    # lists them
    pipe = ETLPipeline(pipe.spark, pipe.index_path, pipe.config)
    key = lambda d: (d["filename"], d["chunk_idx"], d["chunk_text"])
    before = sorted((r.asDict() for r in pipe.index_table().collect()), key=key)
    assert len(before) > n_rows
    pipe.compact()
    after = sorted((r.asDict() for r in pipe.index_table().collect()), key=key)
    # contents unchanged (incl. the duplicate rows we appended)...
    assert after == before
    # ...and every bucket is back to a single data file
    for d in glob.glob(os.path.join(pipe.index_path, "bucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_hybrid_search_finds_lexical_and_dense_match(pipe, docs):
    pipe.ingest(docs)
    # query with the exact text of one ingested document: both legs
    # (dense fake-embedding cosine and word overlap) should rank its
    # chunk first
    target = docs.limit(1).collect()[0]
    res = pipe.hybrid_search([target.text], k=3).collect()
    assert res, "hybrid search returned no rows"
    assert res[0].rank == 1
    top = res[0].c_vec_id
    assert top.startswith(target.filename + "#")
    # deterministic: same query, same ranking
    res2 = pipe.hybrid_search([target.text], k=3).collect()
    assert [(r.c_vec_id, r.rank) for r in res] == [(r.c_vec_id, r.rank) for r in res2]


def test_cost_gated_search_both_branches(pipe, docs, spark):
    """pipe.search() is exact top-k: a broadcast-NL plan with no IVF
    cell join, and its scores are cosines."""
    pipe.ingest(docs)
    res = pipe.search(["word1 word1", "word5"], k=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "cell" not in plan
    hits = res.collect()
    assert len(hits) >= 2 and all(h.score <= 1.000001 for h in hits)


def _search_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _twin(spark, path):
    return ETLPipeline(spark, str(path), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4))


def test_search_sees_another_pipelines_commit(pipe, docs, spark, tmp_path):
    """A pipeline that already searched (and so holds search state) sees
    a commit another pipeline made on the same path: the rewritten
    document's new first chunk ranks first for its own text, the deleted
    document is gone, and the rows are those of a pipeline that never
    held state."""
    update = spark.createDataFrame(
        [("doc_0.pdf", "entirely new body " * 60)], "filename string, text string"
    )
    pipe.ingest(docs)
    old = pipe.index_table().filter("chunk_idx = 0").select("filename", "chunk_text").collect()
    old = {r.filename: r.chunk_text for r in old}
    pipe.search([old["doc_1.txt"]], k=3).collect()

    other = _twin(spark, pipe.index_path)
    other.ingest(update)
    other.delete_documents(["doc_1.txt"])
    new0 = (
        other.index_table()
        .filter("filename = 'doc_0.pdf' AND chunk_idx = 0")
        .collect()[0]
        .chunk_text
    )

    qs = [new0, old["doc_1.txt"], old["doc_0.pdf"]]
    rows = _search_rows(pipe.search(qs, k=3))
    assert [r for r in rows if r[0] == 0 and r[1] == 1][0][2] == "doc_0.pdf#0"
    assert not [r for r in rows if r[2].startswith("doc_1.txt#")]
    twin = _twin(spark, tmp_path / "twin")
    twin.ingest(docs)
    twin.ingest(update)
    twin.delete_documents(["doc_1.txt"])
    assert rows == _search_rows(twin.search(qs, k=3))


def test_search_after_a_drain_rebuilds_its_state(pipe, docs, spark):
    """release_tracked() between two searches: the second returns the same
    rows and persists its state again instead of recomputing it from the
    files on every later call."""
    from data_etl_spark.cache import persistent_rdd_ids, release_tracked

    def persisted() -> int:
        return len(persistent_rdd_ids(spark.sparkContext))

    pipe.ingest(docs)
    qs = ["word1 word1", "word4"]
    first = _search_rows(pipe.search(qs, k=2))
    release_tracked()
    drained = persisted()
    assert _search_rows(pipe.search(qs, k=2)) == first
    assert persisted() > drained


def _jobs(spark, group, run):
    """(jobs, tasks per job) of ``run()`` under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    ids = sorted(st.getJobIdsForGroup(group))
    return [
        sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds if st.getStageInfo(s))
        for j in ids
    ]


def test_repeat_search_issues_only_query_jobs(spark, tmp_path):
    """On an unchanged index a second search lists no files and reads
    no corpus from disk: at most 5 jobs, none with a task per `bucket=`
    dir (the partition-listing job). Its rows equal the stateless
    exact_knn over a fresh read of the index."""
    import os

    from data_etl_spark.etl import _chunk_id, fake_embedding
    from data_etl_spark.operators.knn import exact_knn

    p = ETLPipeline(spark, str(tmp_path / "index"), ETLConfig(chunk_size=100, chunk_overlap=20))
    rows = [(f"d{i}.txt", f"w{i} v{i % 7} u{i % 3} " * (10 + i % 9)) for i in range(90)]
    p.ingest(spark.createDataFrame(rows, "filename string, text string"))
    n_dirs = sum(d.startswith("bucket=") for d in os.listdir(p.index_path))
    assert n_dirs > 32  # Spark lists more than 32 dirs with a job
    qs = ["w1 v1 u1", "w40 v5", "u2 u2 u2", "v3"]
    p.search(qs, k=3).collect()
    got = []
    tasks = _jobs(spark, "repeat-search", lambda: got.extend(p.search(qs, k=3).collect()))
    assert len(tasks) <= 5, tasks
    assert n_dirs not in tasks, tasks

    probes = spark.createDataFrame(list(enumerate(qs)), "q_vec_id long, text string").select(
        "q_vec_id", fake_embedding(F.col("text")).alias("q_emb")
    )
    corpus = spark.read.parquet(p.index_path).select(_chunk_id(), F.col("embedding").alias("c_emb"))
    want = exact_knn(F.broadcast(probes), corpus, k=3)
    assert sorted(tuple(r) for r in got) == _search_rows(want)


def test_ingest_observes_batch_metrics(pipe, docs):
    pipe.ingest(docs)
    m = pipe.last_ingest_metrics
    # 5 docs survive the extension gate; chunk/char counts ride the
    # write job via DataFrame.observe (no extra scan).
    assert m["chunks_written"] == pipe.index_table().count()
    assert m["docs_in_batch_approx"] >= 4  # approx_count_distinct of 5
    assert m["chars_written"] > 0

    # force=False + nothing new -> no write happens -> metrics empty
    pipe.ingest(docs, force=False)
    assert pipe.last_ingest_metrics == {}


def test_ingest_empty_batch(pipe, docs, spark):
    empty = spark.createDataFrame([], "filename string, text string")
    # empty FIRST ingest: bootstraps a typed empty index, no crash
    stats = pipe.ingest(empty)
    assert stats == {"n_documents": 0, "n_chunks": 0}
    # empty ingest into an EXISTING index: no bucket touched, stats stable
    pipe.ingest(docs)
    before = pipe.ingest(empty)
    assert before["n_documents"] == 5
    assert pipe.last_ingest_metrics == {}  # nothing written, not observed


def test_near_dups_finds_duplicate_chunks(pipe, spark):
    # two docs with identical text -> their chunks are exact near-dups;
    # one unrelated doc contributes no pairs
    rows = [
        ("a.md", "alpha beta gamma delta epsilon zeta eta theta " * 6),
        ("b.md", "alpha beta gamma delta epsilon zeta eta theta " * 6),
        ("c.md", "totally different content with other words here " * 6),
    ]
    pipe.ingest(spark.createDataFrame(rows, "filename string, text string"))
    pairs = pipe.near_dups(tau=0.9).collect()
    assert pairs, "identical docs produced no near-dup chunk pairs"
    assert all(r.strategy == "exact" for r in pairs)  # tiny index -> exact gate
    docs_in_pairs = {r.doc1.split("#")[0] for r in pairs} | {
        r.doc2.split("#")[0] for r in pairs
    }
    assert docs_in_pairs == {"a.md", "b.md"}
    # banded branch on the same data (threshold forced down) only loses
    # pairs, never invents them
    banded = pipe.near_dups(threshold=1, tau=0.9).collect()
    assert {(r.doc1, r.doc2) for r in banded} <= {(r.doc1, r.doc2) for r in pairs}
    assert all(r.strategy == "banded" for r in banded)


def test_rank_chunks_both_branches_match_row_number(pipe, spark):
    # auto_rank at the pipeline API: the window branch (big threshold)
    # and the bucketed branch (threshold forced down) must agree with
    # each other rank-for-rank, and total must equal the chunk count
    rows = [
        ("a.md", "alpha beta gamma delta epsilon zeta eta theta " * 6),
        ("b.md", "one two three " * 2),
        ("c.md", "totally different content with other words here " * 6),
    ]
    pipe.ingest(spark.createDataFrame(rows, "filename string, text string"))
    win = pipe.rank_chunks()
    bkt = pipe.rank_chunks(threshold=1)
    w = {(r.filename, r.chunk_idx): (r.rank, r.total) for r in win.collect()}
    b = {(r.filename, r.chunk_idx): (r.rank, r.total) for r in bkt.collect()}
    assert w == b
    n = pipe.index_table().count()
    assert all(t == n for _, t in w.values())
    assert sorted(rk for rk, _ in w.values()) == list(range(1, n + 1))
    assert win.select("strategy").first().strategy == "window"
    assert bkt.select("strategy").first().strategy == "bucketed"


# -- crash-recovery injection (VERDICT r7, next #4) ---------------------------


def _index_rows(pipe):
    return sorted(
        (r.filename, r.chunk_idx)
        for r in pipe.index_table().select("filename", "chunk_idx").collect()
    )


class _CrashAfter:
    """Make os.replace raise after N successful calls — the crash
    injection point between the commit protocol's rename steps. With
    ``dst_suffix``, only renames onto a path ending in it count."""

    def __init__(self, monkeypatch, n: int, dst_suffix: str = ""):
        import os as _os

        self.left = n
        self.dst_suffix = dst_suffix
        self.real = _os.replace
        monkeypatch.setattr("os.replace", self)

    def __call__(self, src, dst):
        if not str(dst).endswith(self.dst_suffix):
            return self.real(src, dst)
        if self.left <= 0:
            raise OSError("injected crash")
        self.left -= 1
        return self.real(src, dst)


@pytest.mark.parametrize("crash_at", [0, 1, 2, 3, 5])
def test_swap_buckets_crash_recovers_to_post_state(
    pipe, docs, spark, tmp_path, crash_at, monkeypatch
):
    """Kill _swap_buckets between any two renames: recover() must roll the
    interrupted upsert FORWARD to the post-ingest state (the staging dir
    was complete at the commit point)."""
    pipe.ingest(docs)
    update = spark.createDataFrame(
        [("doc_0.pdf", "entirely new body " * 60), ("doc_9.md", "fresh doc " * 50)],
        "filename string, text string",
    )
    # expected post state, computed on an uninjected twin of the index
    twin = ETLPipeline(
        spark, str(tmp_path / "twin"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    )
    twin.ingest(docs)
    twin.ingest(update)
    expected = _index_rows(twin)

    crash = _CrashAfter(monkeypatch, crash_at)
    # intent write uses os.replace too (atomic tmp->intent): crash_at=0
    # kills BEFORE the commit point -> recovery must roll BACK instead
    try:
        pipe.ingest(update)
        injected = False
    except OSError:
        injected = True
    monkeypatch.setattr("os.replace", crash.real)

    recovered = pipe.recover()
    got = _index_rows(pipe)
    if injected and crash_at == 0:
        # pre-commit crash: live index untouched, operation rolled back
        pre = ETLPipeline(
            spark, str(tmp_path / "pre"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
        )
        pre.ingest(docs)
        assert got == _index_rows(pre)
        # idempotent re-ingestion (N3) then reaches the post state
        pipe.ingest(update)
        assert _index_rows(pipe) == expected
    else:
        if injected:
            assert recovered == ["swap"]
        assert got == expected
    # scratch space fully reclaimed
    assert not any(
        p.name.endswith((".staging", ".old", ".intent"))
        for p in (tmp_path).iterdir()
    )


@pytest.mark.parametrize(
    "op, crash_at",
    [pytest.param("compact", n, id=str(n)) for n in (1, 2, 3)]
    + [pytest.param("bootstrap", n, id=f"bootstrap-{n}") for n in (1, 2, 3)],
)
def test_rewrite_crash_recovers(pipe, docs, tmp_path, monkeypatch, spark, op, crash_at):
    """Kill a whole-index _rewrite between any two renames — a compaction,
    or the first ingest into an empty path: a readable index must survive
    and recover() must land on the post state (for compaction,
    content-identical to the pre state by its contract)."""
    if op == "compact":
        pipe.ingest(docs)
        expected = _index_rows(pipe)
        run = pipe.compact
    else:
        twin = ETLPipeline(
            spark, str(tmp_path / "twin"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
        )
        twin.ingest(docs)
        expected = _index_rows(twin)
        run = lambda: pipe.ingest(docs)

    crash = _CrashAfter(monkeypatch, crash_at)
    try:
        run()
        injected = False
    except OSError:
        injected = True
    monkeypatch.setattr("os.replace", crash.real)

    recovered = pipe.recover()
    # whatever the crash point: the index reads back with the same rows
    assert _index_rows(pipe) == expected
    if injected and crash_at >= 1:
        assert recovered in (["rewrite"], [])
    assert not any(
        p.name.endswith((".staging", ".old", ".intent")) for p in tmp_path.iterdir()
    )


def test_search_after_recover_from_a_crash_before_the_version_stamp(
    pipe, docs, spark, tmp_path, monkeypatch
):
    """A commit killed after its bucket moves and before the version
    rename: once recover() has rolled it forward, a pipeline that searched
    before the commit returns the post-state rows."""
    update = spark.createDataFrame(
        [("doc_0.pdf", "post-crash body " * 50), ("doc_9.md", "fresh doc " * 50)],
        "filename string, text string",
    )
    pipe.ingest(docs)
    twin = _twin(spark, tmp_path / "twin")
    twin.ingest(docs)
    twin.ingest(update)
    qs = ["post-crash body " * 5, "fresh doc fresh doc", "word0 word0"]
    pipe.search(qs, k=3).collect()

    writer = _twin(spark, pipe.index_path)
    crash = _CrashAfter(monkeypatch, 0, dst_suffix=".version")
    with pytest.raises(OSError):
        writer.ingest(update)
    monkeypatch.setattr("os.replace", crash.real)
    assert pipe.recover() == ["swap"]
    got = _search_rows(pipe.search(qs, k=3))
    assert got == _search_rows(twin.search(qs, k=3))


def test_pipeline_constructor_auto_heals(pipe, docs, spark, tmp_path, monkeypatch):
    """A NEW pipeline instance on a crash-interrupted index (the restart
    story) heals it in __init__ before the first read."""
    pipe.ingest(docs)
    update = spark.createDataFrame(
        [("doc_0.pdf", "post-crash body " * 50)], "filename string, text string"
    )
    twin = ETLPipeline(
        spark, str(tmp_path / "twin2"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    )
    twin.ingest(docs)
    twin.ingest(update)
    expected = _index_rows(twin)

    crash = _CrashAfter(monkeypatch, 2)  # dies mid-bucket-swap, post-commit
    with pytest.raises(OSError):
        pipe.ingest(update)
    monkeypatch.setattr("os.replace", crash.real)

    fresh = ETLPipeline(
        spark, pipe.index_path, ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    )
    assert _index_rows(fresh) == expected


def test_release_tracked_drains_all_pipeline_persists(pipe, docs, spark):
    """Session-lifetime leak check (VERDICT r7, next #8): N back-to-back
    search/near_dups/rank_chunks calls followed by release_tracked()
    leaves the JVM with no more persisted RDDs than before — the
    long-lived-JVM posture bench_full relies on."""
    from data_etl_spark.cache import persistent_rdd_ids, release_tracked

    def persisted() -> int:
        return len(persistent_rdd_ids(spark.sparkContext))

    pipe.ingest(docs)
    release_tracked()
    spark.catalog.clearCache()
    baseline = persisted()

    for _ in range(3):
        pipe.search(["word1 word2", "word3"], k=2).count()
        pipe.near_dups(tau=0.4).count()
        pipe.rank_chunks().count()
        released = release_tracked()
        assert released >= 0  # near_dups' shingle persist is tracked
    assert persisted() <= baseline, (
        f"persisted RDDs leaked: {persisted()} > baseline {baseline}"
    )


def test_recover_skips_sibling_prefix_intent(pipe, docs, spark, tmp_path):
    """Two pipelines whose index paths share a filename prefix
    (``index`` / ``index2``) never touch each other's commit records:
    recover() reads only ``<index>.intent``, so the sibling's
    ``index2.intent`` is neither acted on nor removed by the other
    pipeline (ADVICE r8 #3)."""
    import json
    import os

    pipe.ingest(docs)
    sib = ETLPipeline(
        spark,
        str(tmp_path / "index2"),
        ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4),
    )
    sib.ingest(docs)
    # simulate the sibling crashing mid-swap: its intent file survives
    sibling_intent = str(tmp_path / "index2.intent")
    with open(sibling_intent, "w") as f:
        json.dump({"op": "swap", "buckets": [0], "staged": []}, f)

    # index.intent does not exist: recover() finds nothing to do and
    # leaves index2.intent alone
    assert pipe.recover() == []
    assert os.path.exists(sibling_intent)
    # the owning pipeline recovers (and clears) its own record
    assert sib.recover() == ["swap"]
    assert not os.path.exists(sibling_intent)


def test_repeat_ivf_search_scores_on_the_jvm(spark, tmp_path):
    """A repeat 32-query search scores its per-call pairs with the JVM
    expression kernels: an exact plan (no IVF cell join) with no
    ArrowEvalPython node, at most 4 jobs, and the rows of the stateless
    plan."""
    from data_etl_spark.etl import _chunk_id, fake_embedding
    from data_etl_spark.operators.knn import exact_knn

    p = ETLPipeline(spark, str(tmp_path / "index"), ETLConfig(chunk_size=100, chunk_overlap=20))
    rows = [(f"d{i}.txt", f"w{i} v{i % 7} u{i % 3} " * (10 + i % 9)) for i in range(90)]
    p.ingest(spark.createDataFrame(rows, "filename string, text string"))
    qs = [f"w{i} v{i % 5} u{i % 2}" for i in range(32)]
    p.search(qs, k=3).collect()
    res = p.search(qs, k=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "cell" not in plan
    assert "ArrowEvalPython" not in plan
    got = []
    tasks = _jobs(spark, "repeat-ivf-search-32", lambda: got.extend(res.collect()))
    assert len(tasks) <= 4, tasks

    probes = spark.createDataFrame(list(enumerate(qs)), "q_vec_id long, text string").select(
        "q_vec_id", fake_embedding(F.col("text")).alias("q_emb")
    )
    corpus = spark.read.parquet(p.index_path).select(_chunk_id(), F.col("embedding").alias("c_emb"))
    want = exact_knn(F.broadcast(probes), corpus, k=3)
    assert sorted(tuple(r) for r in got) == _search_rows(want)


def test_ann_and_hybrid_search_score_on_the_jvm(spark, tmp_path):
    """ann_search and hybrid_search score on the JVM expression kernels
    (no ArrowEvalPython node), return the rows of their operators'
    stateless plans, and build no search state: an ann_search reads only
    the IVF copy."""
    from data_etl_spark.etl import _chunk_id
    from data_etl_spark.operators.ivf import ivf_search
    from data_etl_spark.operators.knn import rrf_hybrid

    p = ETLPipeline(spark, str(tmp_path / "index"), ETLConfig(chunk_size=100, chunk_overlap=20))
    rows = [(f"d{i}.txt", f"w{i} v{i % 7} u{i % 3} " * (10 + i % 9)) for i in range(40)]
    p.ingest(spark.createDataFrame(rows, "filename string, text string"))
    path = p.build_ann_index(n_cells=4, kmeans_iter=2)
    qs = [f"w{i} v{i % 5} u{i % 2}" for i in range(8)]
    ann, hybrid = p.ann_search(qs, k=3), p.hybrid_search(qs, k=3)
    qdf = p._query_frame(qs)
    chunks = p.index_table().select(
        _chunk_id(), F.col("embedding").alias("c_emb"), F.col("chunk_text").alias("text")
    )
    want_ann = ivf_search(
        spark, path, qdf.drop("query_text"), spark.read.parquet(path + "/_centroids"),
        k=3, q_vec="q_emb",
    )
    want_hybrid = rrf_hybrid(qdf.withColumnRenamed("query_text", "text"), chunks, 3)
    for got, want in ((ann, want_ann), (hybrid, want_hybrid)):
        assert "ArrowEvalPython" not in got._jdf.queryExecution().executedPlan().toString()
        assert _search_rows(got) == _search_rows(want)
    assert p._search is None


def test_tracked_handles_stay_bounded_across_upserts(pipe, docs, spark):
    """Upserts and search-state rebuilds untrack what they unpersist:
    after a bootstrap, five 1-doc upserts and two state rebuilds the
    tracked list holds only the live search state."""
    from data_etl_spark import cache

    pipe.ingest(docs)
    cache.release_tracked()
    pipe.search(["word1"], k=2).collect()
    for i in range(5):
        one = spark.createDataFrame([("doc_0.pdf", f"upsert{i} " * 40)], "filename string, text string")
        pipe.ingest(one)
        if i in (1, 3):
            pipe.search(["word1"], k=2).collect()
    assert len(cache._TRACKED) <= 2, len(cache._TRACKED)


def test_search_is_exact_top_k_above_2048_chunks(spark, tmp_path):
    """On an index of more than 2,048 chunks, search is still the exact
    top-k: the rows of exact_knn over a fresh read of the index, a plan
    with no IVF cell join and no ArrowEvalPython node, at most 3 jobs
    for a repeat 32-query search, and one tracked handle (the corpus)
    after upserts and a state rebuild."""
    from data_etl_spark import cache
    from data_etl_spark.etl import _chunk_id, fake_embedding
    from data_etl_spark.operators.knn import exact_knn

    p = ETLPipeline(spark, str(tmp_path / "index"), ETLConfig(chunk_size=100, chunk_overlap=20))
    rows = [(f"d{i}.txt", f"w{i} v{i % 7} u{i % 3} t{i % 11} " * 60) for i in range(240)]
    assert p.ingest(spark.createDataFrame(rows, "filename string, text string"))["n_chunks"] > 2048
    qs = [f"w{i} v{i % 5} u{i % 2}" for i in range(32)]
    p.search(qs, k=3).collect()
    res = p.search(qs, k=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "cell" not in plan and "ArrowEvalPython" not in plan
    got = []
    tasks = _jobs(spark, "repeat-search-2048", lambda: got.extend(res.collect()))
    assert len(tasks) <= 3, tasks

    probes = spark.createDataFrame(list(enumerate(qs)), "q_vec_id long, text string").select(
        "q_vec_id", fake_embedding(F.col("text")).alias("q_emb")
    )
    corpus = spark.read.parquet(p.index_path).select(_chunk_id(), F.col("embedding").alias("c_emb"))
    assert sorted(tuple(r) for r in got) == _search_rows(exact_knn(F.broadcast(probes), corpus, k=3))

    cache.release_tracked()
    p.search(qs[:1], k=3).collect()
    for i in range(2):
        one = spark.createDataFrame([("d0.txt", f"upsert{i} " * 40)], "filename string, text string")
        p.ingest(one)
    p.search(qs[:1], k=3).collect()
    assert len(cache._TRACKED) <= 1, len(cache._TRACKED)


def test_ingest_from_another_session_into_an_existing_index(pipe, docs, spark):
    """A DataFrame of ``spark.newSession()`` upserts into an existing
    index, its batch metrics observed, within a bounded wait."""
    import threading

    pipe.ingest(docs)
    other = spark.newSession()
    upd = other.createDataFrame(
        [("doc_0.pdf", "entirely new body " * 60)], "filename string, text string"
    )
    out: list = []
    t = threading.Thread(target=lambda: out.append(pipe.ingest(upd)), daemon=True)
    t.start()
    t.join(180)
    if t.is_alive():
        pytest.fail("ingest of a newSession() frame did not finish within 180 s")
    assert out[0]["n_documents"] == 5
    new = pipe.index_table().filter("filename = 'doc_0.pdf'")
    assert new.filter("chunk_idx = 0").collect()[0].chunk_text.startswith("entirely new body")
    assert pipe.last_ingest_metrics["chunks_written"] == new.count()
