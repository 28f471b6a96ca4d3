"""The benchmark's workloads: closed loop, one client, ``local[nproc]``.

A workload prepares its state once (``prepare``), then the runner calls
``step`` back to back until the measured window ends, then ``check``
verifies what the program produced, outside the timed region.

In a traced step the benchmark wraps the pipeline's layer functions (see
:class:`Layers`): each wrapper opens a span, calls the real function,
materializes its output into the cache before the span closes, and hands
the cached result to the next layer. A span then covers one layer's work,
at the price of the pipelining lost at each boundary; the runner measures
that price by interleaving untraced steps.

A traced run ends with a ``tour``: calls the measured window does not
make, run once under the same wrappers, so that every layer gets spans.
``ingest_cold`` tours index churn (upsert, incremental ingest, delete,
each followed by a search); ``retrieval`` tours ``build_ann_index``,
``ann_search`` and ``hybrid_search``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import data_etl_spark.etl as etl_mod
import data_etl_spark.operators.convert as convert_mod
import data_etl_spark.operators.ivf as ivf_mod
import data_etl_spark.operators.kmeans as kmeans_mod
import data_etl_spark.operators.planner as planner_mod
import data_etl_spark.sources.files as files_mod
from data_etl_spark.etl import ETLPipeline

from gen import expected_chunks, make_churn, make_queries

TOP_K = 5


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Layers:
    """Span-and-materialize wrappers around the pipeline's layer calls.

    Module functions are replaced on the module the pipeline looks them
    up in at call time (``merge_by_key`` on ``etl``, which imports it by
    name; the others on their defining module); pipeline methods are
    shadowed on the instance. :meth:`restore` puts everything back, so
    untraced steps run the program unmodified.
    """

    def __init__(self, tracer, pipeline: ETLPipeline) -> None:
        self.tracer = tracer
        self.p = pipeline
        self.held: list = []
        self._saved: list[tuple[object, str, object]] = []

    def _materialize(self, df) -> tuple[object, int]:
        df = df.persist()
        n = df.count()
        self.held.append(df)
        return df, n

    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, owner.__dict__.get(name)))
        setattr(owner, name, make(orig))

    def install(self) -> "Layers":
        tr = self.tracer
        idx = self.p.index_path

        def sources(orig):
            def scan(spark, input_dir, *a, **kw):
                with tr.span("sources", op="scan_binary_files") as s:
                    df, s["files"] = self._materialize(orig(spark, input_dir, *a, **kw))
                return df
            return scan

        def convert(orig):
            def to_markdown(df, *a, **kw):
                with tr.span("convert", op="to_markdown") as s:
                    out, s["docs_in"] = self._materialize(orig(df, *a, **kw))
                s["docs_failed"] = out.filter(~F.col("ok")).count()
                return out
            return to_markdown

        def chunk(orig):
            def chunk_documents(docs, *a, **kw):
                with tr.span("chunk", op="chunk_documents") as s:
                    df, s["chunks_out"] = self._materialize(orig(docs, *a, **kw))
                return df
            return chunk_documents

        def rewrite(orig):
            # the whole-index write of a first ingest: everything under the
            # index afterwards was written by this call
            def _rewrite(df, *a, **kw):
                with tr.span("commit", op="_rewrite") as s:
                    orig(df, *a, **kw)
                s["files_written"], s["bytes_written"] = dir_bytes(idx)
                s["buckets_touched"] = sum(d.startswith("bucket=") for d in os.listdir(idx))
            return _rewrite

        def swap(orig):
            # an incremental write replaces the named bucket dirs only
            def _swap_buckets(df, buckets, *a, **kw):
                with tr.span("commit", op="_swap_buckets") as s:
                    orig(df, buckets, *a, **kw)
                sizes = [dir_bytes(os.path.join(idx, f"bucket={b}")) for b in buckets]
                s["files_written"] = sum(n for n, _ in sizes)
                s["bytes_written"] = sum(b for _, b in sizes)
                s["buckets_touched"] = len(buckets)
            return _swap_buckets

        def merge(orig):
            def merge_by_key(old, new, *a, **kw):
                with tr.span("merge", op="merge_by_key") as s:
                    df, s["rows_out"] = self._materialize(orig(old, new, *a, **kw))
                return df
            return merge_by_key

        def kmeans(orig):
            def kmeans_fit(*a, **kw):
                with tr.span("kmeans", op="kmeans_fit") as s:
                    df, s["centroids"] = self._materialize(orig(*a, **kw))
                return df
            return kmeans_fit

        def ivf_write(orig):
            def build_ivf_index(corpus, centroids, path, *a, **kw):
                with tr.span("ivf_write", op="build_ivf_index") as s:
                    orig(corpus, centroids, path, *a, **kw)
                s["files_written"], s["bytes_written"] = dir_bytes(path)
            return build_ivf_index

        def knn(orig):
            def search(*a, **kw):
                with tr.span("knn", op="auto_knn") as s:
                    df = orig(*a, **kw)
                    # the IVF branch joins probes to corpus on a cell id
                    plan = df._jdf.queryExecution().analyzed().toString()
                    s["ivf_branch"] = int("cell#" in plan)
                    df, _ = self._materialize(df)
                return df
            return search

        self._patch(files_mod, "scan_binary_files", sources)
        self._patch(convert_mod, "to_markdown", convert)
        self._patch(self.p, "chunk_documents", chunk)
        self._patch(self.p, "_rewrite", rewrite)
        self._patch(self.p, "_swap_buckets", swap)
        self._patch(etl_mod, "merge_by_key", merge)
        self._patch(planner_mod, "auto_knn", knn)
        self._patch(kmeans_mod, "kmeans_fit", kmeans)
        self._patch(ivf_mod, "build_ivf_index", ivf_write)
        return self

    def restore(self) -> None:
        for owner, name, old in reversed(self._saved):
            if isinstance(owner, ETLPipeline) and old is None:
                delattr(owner, name)
            else:
                setattr(owner, name, old)
        self._saved.clear()
        for df in self.held:
            df.unpersist()
        self.held.clear()


def index_digest(p: ETLPipeline) -> tuple[int, str]:
    """(rows, order-independent md5) of the index contents."""
    t = p.index_table().toPandas()
    rows = sorted(
        f"{r.filename}\x00{r.chunk_idx}\x00{r.chunk_text}\x00{r.n_tokens}\x00"
        + ",".join(repr(x) for x in r.embedding)
        for r in t.itertuples()
    )
    return len(rows), hashlib.md5("\n".join(rows).encode("utf-8")).hexdigest()


def top_k_rows(df) -> dict[int, list]:
    """q_vec_id -> [(rank, c_vec_id, score)] of a top-k result."""
    out: dict[int, list] = {}
    for r in df.collect():
        out.setdefault(r.q_vec_id, []).append((r["rank"], r.c_vec_id, r[-1]))
    for v in out.values():
        v.sort()
    return out


class IngestCold:
    """``process_folder(force=True)`` of the whole folder into an empty index."""

    name = "ingest_cold"
    #: the corpus is drawn from the run's seed
    CORPUS_SEED = None
    #: Untimed steps before the window, and the fewest steps in it. A step
    #: keeps getting faster over its first four runs in a JVM, while the
    #: JIT compiles hot code, so the window's first step is still 10-20%
    #: slower than the next: a median of three leaves it out, and with it
    #: a step that meets a burst of CPU steal.
    WARM_STEPS = 2
    MIN_STEPS = 3

    def __init__(self, spark, work: str, folder: str, manifest: dict, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.folder = folder
        self.manifest = manifest
        self.last_index: str | None = None
        self.errors: list[str] = []

    def _index_dir(self, tag: str) -> str:
        return os.path.join(self.work, f"index_{tag}")

    def prepare(self) -> dict[str, float]:
        """Warm-up: untimed steps, into a scratch index."""
        for _ in range(self.WARM_STEPS):
            ETLPipeline(self.spark, self._index_dir("warm")).process_folder(self.folder)
            shutil.rmtree(self._index_dir("warm"))
        return {}

    def pipeline(self, i: int) -> ETLPipeline:
        if self.last_index is not None:
            shutil.rmtree(self.last_index)
        self.last_index = self._index_dir(str(i))
        return ETLPipeline(self.spark, self.last_index)

    def step(self, p: ETLPipeline) -> tuple[int, dict[str, float]]:
        t0 = time.perf_counter()
        got = p.process_folder(self.folder, force=True)
        dt = time.perf_counter() - t0
        want = {"n_documents": self.manifest["n_good"], "n_chunks": self.manifest["n_chunks"]}
        if got != want:
            self.errors.append(f"process_folder returned {got}, manifest says {want}")
        return got["n_documents"], {"process_folder": dt}

    def _chunk_counts(self, p: ETLPipeline, want: dict[str, int]) -> int:
        """Checks the index holds exactly ``want``'s documents, chunk_idx
        running 0..n-1 in each; returns the chunks that match."""
        rows = (
            p.index_table()
            .groupBy("filename")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("chunk_idx").alias("nd"),
                F.min("chunk_idx").alias("lo"),
                F.max("chunk_idx").alias("hi"),
            )
            .collect()
        )
        found = {r.filename: r for r in rows}
        if set(found) != set(want):
            extra = sorted(set(found) - set(want))[:5]
            missing = sorted(set(want) - set(found))[:5]
            self.errors.append(f"indexed documents differ: extra {extra}, missing {missing}")
        hit = 0
        for name, n in want.items():
            r = found.get(name)
            if r is None:
                continue
            if not (r.n == r.nd == n and r.lo == 0 and r.hi == n - 1):
                self.errors.append(
                    f"{name}: {r.n} chunks, idx {r.lo}..{r.hi} ({r.nd} distinct); want 0..{n - 1}"
                )
            hit += min(r.n, n)
        return hit

    def check(self) -> dict:
        """Counts match the manifest; chunk_idx runs 0..n-1 per document."""
        hit = self._chunk_counts(ETLPipeline(self.spark, self.last_index), self.manifest["chunks_per_doc"])
        _, index_bytes = dir_bytes(self.last_index)
        return {
            "space_amp": index_bytes / self.manifest["good_bytes"],
            "result_recall": hit / self.manifest["n_chunks"],
        }

    def _first_chunks(self, p: ETLPipeline, names: list[str]) -> dict[str, str]:
        rows = (
            p.index_table()
            .filter(F.col("filename").isin(*names) & (F.col("chunk_idx") == 0))
            .select("filename", "chunk_text")
            .collect()
        )
        return {r.filename: r.chunk_text for r in rows}

    def _probe(self, tr, p: ETLPipeline, probes: list[tuple[str, str, str]], fill: list[str]) -> None:
        """One 32-query search whose first queries are probes
        ``(text, document, expect)``. A probe's text is a chunk text, and
        its embedding equals that chunk's, so the chunk it came from is
        an exact match (cosine 1) while it is in the index. ``expect`` is
        ``"hit"`` (``document#0`` comes first, exactly), ``"stale"`` (no
        exact match of ``document#0``) or ``"gone"`` (no chunk of the
        document at all)."""
        qs = [t for t, _, _ in probes] + fill[: max(0, len(fill) - len(probes))]
        with tr.span("churn", op="search"):
            got = top_k_rows(p.search(qs, k=TOP_K))
        for i, (_, name, expect) in enumerate(probes):
            rows = got.get(i, [])
            exact = [c for _, c, score in rows if score > 1 - 1e-9]
            ok = {
                "hit": bool(rows) and rows[0][1] == f"{name}#0" and exact[:1] == [f"{name}#0"],
                "stale": f"{name}#0" not in exact,
                "gone": not any(c.startswith(f"{name}#") for _, c, _ in rows),
            }[expect]
            if not ok:
                self.errors.append(f"search for {name} ({expect}): top-{TOP_K} {rows}")

    def tour(self, tr) -> dict:
        """Index churn on the last step's index, traced: an upsert of a few
        rewritten documents (merge), ``process_folder(force=False)`` after
        a few new documents land (skip), a delete, a checked search
        between writes, and at the end an index digest that must equal
        the digest of a fresh bootstrap of the final folder."""
        churn = make_churn(self.manifest["seed"], self.manifest)
        fill = make_queries(self.manifest["seed"], 1)["fresh"][0]
        p = ETLPipeline(self.spark, self.last_index)
        want = dict(self.manifest["chunks_per_doc"])
        upsert_dir = os.path.join(self.work, "churn")
        os.makedirs(upsert_dir)
        for name, text in churn["edit"].items():
            for d in (upsert_dir, self.folder):
                with open(os.path.join(d, name), "w") as f:
                    f.write(text)
            want[name] = expected_chunks(text)
        changed = sum(len(t) for t in churn["edit"].values()) + sum(len(t) for t in churn["new"].values())
        out: dict[str, float] = {}
        layers = Layers(tr, p).install()
        try:
            # each write is bracketed by searches that ask the same probes
            # again, so results served from before the write show as stale
            old = self._first_chunks(p, list(churn["edit"]))
            self._probe(tr, p, [(t, n, "hit") for n, t in old.items()], fill)
            with tr.span("churn", op="upsert") as s:
                p.process_folder(upsert_dir, force=True)
            out["upsert_s"] = s["end"] - s["start"]
            new = self._first_chunks(p, list(churn["edit"]))
            for name, text in churn["edit"].items():
                if not new.get(name, "").startswith(text[:200]):
                    self.errors.append(f"{name}: first chunk after the upsert is not the new text")
            probes = [(t, n, "stale") for n, t in old.items()] + [(t, n, "hit") for n, t in new.items()]
            self._probe(tr, p, probes, fill)

            for name, text in churn["new"].items():
                with open(os.path.join(self.folder, name), "w") as f:
                    f.write(text)
                want[name] = expected_chunks(text)
            with tr.span("skip", op="process_folder(force=False)") as s:
                got = p.process_folder(self.folder, force=False)
            out["skip_s"] = s["end"] - s["start"]
            out["docs_new"] = got["n_documents"] - self.manifest["n_good"]
            if out["docs_new"] != len(churn["new"]):
                self.errors.append(f"force=False ingested {out['docs_new']} documents, want {len(churn['new'])}")
            added = self._first_chunks(p, list(churn["new"]))
            gone = self._first_chunks(p, churn["delete"])
            probes = [(t, n, "hit") for n, t in added.items()] + [(t, n, "hit") for n, t in gone.items()]
            self._probe(tr, p, probes, fill)

            with tr.span("churn", op="delete_documents") as s:
                p.delete_documents(churn["delete"])
            out["delete_s"] = s["end"] - s["start"]
            for name in churn["delete"]:
                os.remove(os.path.join(self.folder, name))
                del want[name]
            self._probe(tr, p, [(t, n, "gone") for n, t in gone.items()], fill)
        finally:
            layers.restore()

        self._chunk_counts(p, want)
        fresh = ETLPipeline(self.spark, self._index_dir("fresh"))
        fresh.process_folder(self.folder)
        if index_digest(p) != index_digest(fresh):
            self.errors.append("index after churn differs from a fresh bootstrap of the final folder")
        out["changed_text_bytes"] = changed
        return out


def query_embedding(text: str) -> np.ndarray:
    """NumPy twin of ``etl.fake_embedding``: md5 nibble groups / 65535."""
    h = hashlib.md5(text.encode("utf-8")).hexdigest()
    return np.array([int(h[4 * i : 4 * i + 4], 16) / 65535.0 for i in range(8)])


def exact_top_k(p: ETLPipeline, queries: list[str], k: int) -> list[set[str]]:
    """Cosine top-k of each query over the whole index, computed in NumPy
    rather than by the program; ties go to the smaller ``filename#chunk_idx``."""
    t = p.index_table().select("filename", "chunk_idx", "embedding").toPandas()
    ids = (t["filename"] + "#" + t["chunk_idx"].astype(str)).to_numpy()
    id_rank = np.argsort(np.argsort(ids, kind="stable"))
    emb = np.stack(t["embedding"].to_numpy())
    emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    out = []
    for q in queries:
        v = query_embedding(q)
        score = emb @ (v / np.linalg.norm(v))
        out.append(set(ids[np.lexsort((id_rank, -score))[:k]]))
    return out


def recall(got: dict[int, list], truth: list[set[str]]) -> float:
    return sum(len(t & {c for _, c, _ in got.get(i, [])}) for i, t in enumerate(truth)) / (
        TOP_K * len(truth)
    )


class Retrieval:
    """A session of ``search`` calls against a static index built during
    set-up. Each step asks one batch of 32 queries drawn from the
    session's pool (queries come back across batches) and one batch of
    32 queries asked nowhere else in the run.

    A seed is one session over one corpus: the corpus is the same for
    every seed, the query streams are the seed's. The recall of the IVF
    branch depends on which corpus rows it samples as centroids, by as
    much as 0.57 to 0.66 across corpora; with one corpus, recall moves
    only when the program does."""

    name = "retrieval"
    CORPUS_SEED = 20250103
    #: Untimed batches after the bootstrap, and the fewest steps in the
    #: window. Search steps keep getting faster for longer than ingest
    #: steps; with two warm-up batches and three steps the window's
    #: median still varied by 12% between runs, with four and two by 6%.
    WARM_BATCHES = 4
    MIN_STEPS = 2
    #: more batches than any window uses
    N_BATCHES = 64

    def __init__(self, spark, work: str, folder: str, manifest: dict, seed: int) -> None:
        self.spark = spark
        self.folder = folder
        self.manifest = manifest
        self.index = os.path.join(work, "index")
        self.queries = make_queries(seed, self.N_BATCHES, n_warm=self.WARM_BATCHES)
        self.p: ETLPipeline | None = None
        self.errors: list[str] = []
        #: query text -> its top-k rows, the first time it ran
        self.first_rows: dict[str, list] = {}
        self.n = 0
        #: queries the window asked, and how many of them it had asked before
        self.asked: set[str] = set()
        self.n_asked = self.n_repeats = 0
        #: the warm-up batches, one list: the recall-evaluation set
        self.eval = [q for qs in self.queries["warm"] for q in qs]
        self.eval_rows: dict[int, list] = {}
        self.truth: list[set[str]] = []

    def prepare(self) -> dict[str, float]:
        """Builds the index from the folder, then runs the warm-up batches
        and keeps their results for the recall check."""
        t0 = time.perf_counter()
        self.p = ETLPipeline(self.spark, self.index)
        got = self.p.process_folder(self.folder)
        if got["n_chunks"] <= 2048:
            self.errors.append(f"index has {got['n_chunks']} chunks; search would skip IVF")
        t1 = time.perf_counter()
        for b, qs in enumerate(self.queries["warm"]):
            for i, rows in top_k_rows(self.p.search(qs, k=TOP_K)).items():
                self.eval_rows[b * len(qs) + i] = rows
        return {"bootstrap_s": t1 - t0, "warm_reads_s": time.perf_counter() - t1}

    def pipeline(self, i: int) -> ETLPipeline:
        return self.p

    def _batch(self, p: ETLPipeline, qs: list[str]) -> float:
        t0 = time.perf_counter()
        got = top_k_rows(p.search(qs, k=TOP_K))
        dt = time.perf_counter() - t0
        if len(got) != len(qs) or {len(v) for v in got.values()} != {TOP_K}:
            self.errors.append(f"search: not {TOP_K} rows for each of {len(qs)} queries")
        # a query's top-k must not depend on the batch it rides in
        for i, rows in got.items():
            first = self.first_rows.setdefault(qs[i], rows)
            if first != rows:
                self.errors.append(f"search top-{TOP_K} of {qs[i]!r} changed: {first} then {rows}")
        return dt

    def step(self, p: ETLPipeline) -> tuple[int, dict[str, float]]:
        session = self.queries["session"][self.n]
        fresh = self.queries["fresh"][self.n]
        self.n += 1
        for q in session + fresh:
            self.n_asked += 1
            self.n_repeats += q in self.asked
            self.asked.add(q)
        ops = {"search_session": self._batch(p, session), "search_fresh": self._batch(p, fresh)}
        return len(session) + len(fresh), ops

    def check(self) -> dict:
        """Recall of search's IVF branch over the warm-up batches against
        an exact top-k computed outside Spark."""
        if len(self.eval_rows) != len(self.eval) or {len(v) for v in self.eval_rows.values()} != {TOP_K}:
            self.errors.append(f"search: not {TOP_K} rows for each warm-up query")
        self.truth = exact_top_k(self.p, self.eval, TOP_K)
        _, index_bytes = dir_bytes(self.index)
        return {
            "space_amp": index_bytes / self.manifest["good_bytes"],
            "result_recall": recall(self.eval_rows, self.truth),
            "repeat_share": self.n_repeats / max(1, self.n_asked),
        }

    def tour(self, tr) -> dict:
        """``build_ann_index``, ``ann_search`` of the warm-up queries and
        ``hybrid_search`` of one session batch, twice in two orders."""
        p = self.p
        layers = Layers(tr, p).install()
        try:
            with tr.span("ann_build", op="build_ann_index"):
                p.build_ann_index()
            with tr.span("ann", op="ann_search"):
                ann = top_k_rows(p.ann_search(self.eval, k=TOP_K))
            qs = self.queries["session"][0]
            runs = []
            for order in (qs, qs[::-1]):
                with tr.span("hybrid", op="hybrid_search"):
                    got = top_k_rows(p.hybrid_search(order, k=TOP_K))
                runs.append({order[i]: rows for i, rows in got.items()})
        finally:
            layers.restore()
        if {len(v) for v in ann.values()} != {TOP_K} or len(ann) != len(self.eval):
            self.errors.append(f"ann_search: not {TOP_K} rows for each query")
        if {len(v) for r in runs for v in r.values()} != {TOP_K} or len(runs[0]) != len(set(qs)):
            self.errors.append(f"hybrid_search: not {TOP_K} rows for each query")
        if runs[0] != runs[1]:
            self.errors.append("hybrid_search results depend on the order of the batch")
        return {"ann_recall": recall(ann, self.truth)}


WORKLOADS = {w.name: w for w in (IngestCold, Retrieval)}
