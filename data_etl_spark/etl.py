"""End-to-end ETL orchestrator: the reference's public API surface
re-expressed Spark-first.

Mirrors `/root/reference/src/etl_processor.py` (E1 `perform_etl`,
E2 `process_file`) and `/root/reference/src/managers/index_manager.py`
(E3 `add_document`/`delete_document`) as ONE lazy DataFrame dataflow:

    documents -> extension gate (F1) -> normalize (T1,T3-T7)
              -> chunk + enumerate (U3/W2) -> token counts (A7)
              -> embed (V1, pluggable; deterministic hash-embedding
                 default so the correctness path needs no model)
              -> keyed delete-then-add upsert into the index table (J6)

The "vector store" is a partitioned Parquet table — no external index
server (SURVEY.md §3: the only process boundaries are Spark's own).
Search (V4) is cosine top-k against the same table, cost-gated between
exact brute force and an in-memory IVF rewrite (``ETLPipeline.search``).

Scale posture: ingest batches broadcast in the anti-join side of the
upsert (the 100 TB index never shuffles on ingest); the index table is
written partitioned by a stable bucket of the document key so a
delete/search touches a bounded file set. On a lakehouse table the
rewrite below compiles to ``MERGE WHEN MATCHED DELETE ... INSERT``; the
atomic staging-dir swap here is the plain-Parquet equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import text as TX
from .operators import chunking as CH
from .operators.export import export_files
from .operators.merge import merge_by_key

#: Dimension of the deterministic fallback embedding (md5-nibble based).
FAKE_EMBED_DIM = 8

#: Index-table schema (D5 analog: one row per chunk + vector).
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("chunk_text", T.StringType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), False),
    ]
)

#: INDEX_SCHEMA plus the `bucket` partition column, as the table is read
#: (an explicit schema spares every read a schema inference).
_READ_SCHEMA = T.StructType(INDEX_SCHEMA.fields + [T.StructField("bucket", T.IntegerType())])


def _bucket_dirs(path: str) -> set[int]:
    """Bucket numbers of the `bucket=` partition dirs under ``path``."""
    if not os.path.isdir(path):
        return set()
    return {int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("bucket=")}


def _write_json(path: str, obj: object) -> None:
    """Write ``obj`` to ``path`` as JSON via a tmp file + rename: a crash
    mid-write leaves the previous file (or none), never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _chunk_id(alias: str = "c_vec_id") -> Column:
    """``filename#chunk_idx``: the key search results report a chunk by."""
    return F.concat_ws("#", "filename", F.col("chunk_idx").cast("string")).alias(alias)


def fake_embedding(col: Column) -> Column:
    """Deterministic 8-dim embedding from md5 nibble pairs of the text.

    Stands in for the reference's Jina/Ollama dense embedding (V1,
    `index_manager.py:114-119`) on the correctness path: pure column
    expression, model-free, identical across engines and retries.
    """
    h = F.md5(col)
    parts = [
        (F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("double") / F.lit(65535.0))
        for i in range(FAKE_EMBED_DIM)
    ]
    return F.array(*parts)


#: Env var pointing at a JSON config file (ETLConfig.from_json default).
CONFIG_PATH_ENV = "DATA_ETL_CONFIG_PATH"


@dataclass
class ETLConfig:
    """Job config (ETLConfigManager analog, `config/manager.py:164-188`)."""

    chunk_size: int = 1000
    chunk_overlap: int = 200
    allowed_extensions: Sequence[str] = ("pdf", "txt", "md")
    n_buckets: int = 64  # index-table partition buckets over filename
    nfkc: bool = False  # T2 unicode NFKC in the normalize chain

    @classmethod
    def from_json(cls, path: str | None = None, app_id: str | None = None) -> "ETLConfig":
        """S6 config-manager parity (`config/manager.py:191-206`): load a
        JSON config — explicit ``path``, else ``$DATA_ETL_CONFIG_PATH`` —
        optionally selecting an app-scoped section keyed by ``app_id``.
        Unknown keys and wrong-typed values raise ValueError (the
        reference's pydantic validation analog).
        """
        path = path or os.environ.get(CONFIG_PATH_ENV)
        if not path:
            raise ValueError(
                f"no config path given and ${CONFIG_PATH_ENV} is unset"
            )
        with open(path) as f:
            raw = json.load(f)
        if app_id is not None:
            if not isinstance(raw, dict) or app_id not in raw:
                raise ValueError(f"app_id {app_id!r} not found in {path}")
            raw = raw[app_id]
        if not isinstance(raw, dict):
            raise ValueError(f"config root must be a JSON object, got {type(raw).__name__}")
        fields_ = {f_.name for f_ in cls.__dataclass_fields__.values()}  # type: ignore[attr-defined]
        unknown = set(raw) - fields_
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        checks = {
            "chunk_size": int,
            "chunk_overlap": int,
            "n_buckets": int,
            "nfkc": bool,
            "allowed_extensions": (list, tuple),
        }
        for k, v in raw.items():
            want = checks[k]
            if not isinstance(v, want) or (want is int and isinstance(v, bool)):
                raise ValueError(f"config key {k!r}: expected {want}, got {type(v).__name__}")
        return cls(**raw)


class ETLPipeline:
    """Ingest/search/delete over a Parquet-backed chunk+vector index.

    The reference drives one file at a time through a Python loop
    (`etl_processor.py:200-204`); here the same per-document logic is a
    single lazy plan over *all* documents, parallel by construction.
    """

    def __init__(self, spark: SparkSession, index_path: str, config: ETLConfig | None = None):
        self.spark = spark
        self.index_path = index_path
        self.config = config or ETLConfig()
        # heal any crash-interrupted commit before the first read (one
        # stat when the index is clean — see recover())
        self.recover()

    # -- index-table plumbing ------------------------------------------------

    def _exists(self) -> bool:
        return bool(_bucket_dirs(self.index_path))

    def index_table(self, buckets: set[int] | None = None) -> DataFrame:
        """Current index contents (empty-but-typed if never written).

        With ``buckets``, a partition-pruned read of just those `bucket=`
        dirs: the filter is on the partition column, so Spark lists/reads
        only them — at 100 TB an ingest touches |batch buckets| files, not
        the table.
        """
        if not self._exists():
            return self.spark.createDataFrame([], INDEX_SCHEMA)
        df = self.spark.read.schema(_READ_SCHEMA).parquet(self.index_path)
        if buckets is not None:
            df = df.filter(F.col("bucket").isin(*sorted(buckets)))
        return df.select(INDEX_SCHEMA.fieldNames())

    def _bucket(self, filename: Column) -> Column:
        return F.pmod(F.crc32(filename), F.lit(self.config.n_buckets)).cast("int")

    def _buckets_of(self, filenames: Iterable[str]) -> set[int]:
        """Driver-side twin of the `bucket` partition expression.

        zlib.crc32 is the same CRC-32 (IEEE) Spark's F.crc32 computes, so
        a Python filename list maps to partition dirs without a Spark job.
        """
        return {zlib.crc32(f.encode("utf-8")) % self.config.n_buckets for f in filenames}

    def _rewrite(self, df: DataFrame) -> None:
        """Replace the WHOLE index with ``df`` (bootstrap, compaction): a
        :meth:`_swap_buckets` of every bucket."""
        # looked up on the class, so a wrapper installed on the instance
        # (the benchmark's tracer) sees one commit, not a nested second
        ETLPipeline._swap_buckets(self, df, None)

    def _swap_buckets(self, df: DataFrame, buckets: set[int] | None) -> None:
        """Replace the named `bucket=` partition dirs with ``df``; ``None``
        names every bucket (the configured range plus any `bucket=` dir
        on disk, so a table written under another ``n_buckets`` leaves
        nothing behind).

        The index's one commit protocol — bootstrap, upsert, delete and
        compaction all go through it. The plain-Parquet form of a
        partition-overwrite MERGE
        (`spark.sql.sources.partitionOverwriteMode=dynamic` semantics,
        done by hand so the swap is crash-safe):

        1. stage ``df`` fully under ``<index>.staging`` (this runs the
           plan, which may lazily read the live buckets, before any live
           dir is touched);
        2. write ``<index>.intent`` — the commit point;
        3. per bucket, rename the live dir aside to ``<index>.old`` and
           move the staged dir in (a bucket with no staged rows drops);
        4. delete the aside and staging dirs, then the intent.

        A crash before 2 leaves the pre state; from 2 on, :meth:`recover`
        rolls forward to the post state. Buckets not named are never
        listed, read, or rewritten — ingest cost scales with the batch,
        not the table (reference delete-then-add:
        `index_manager.py:347-368`).
        """
        op = "swap"
        if buckets is None:
            op = "rewrite"
            buckets = set(range(self.config.n_buckets)) | _bucket_dirs(self.index_path)
        staging = self.index_path + ".staging"
        aside = self.index_path + ".old"
        for p in (staging, aside):
            if os.path.exists(p):
                shutil.rmtree(p)
        (
            df.withColumn("bucket", self._bucket(F.col("filename")))
            .repartition("bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        # The intent records which buckets staging actually holds, so
        # recovery can tell "already moved into live" (stage dir gone,
        # keep live) from "staged empty = drop" (never staged, remove live).
        _write_json(
            self.index_path + ".intent",
            {"op": op, "buckets": sorted(buckets), "staged": sorted(_bucket_dirs(staging))},
        )
        os.makedirs(aside)
        os.makedirs(self.index_path, exist_ok=True)
        for b in sorted(buckets):
            live_b = os.path.join(self.index_path, f"bucket={b}")
            stage_b = os.path.join(staging, f"bucket={b}")
            if os.path.exists(live_b):
                os.replace(live_b, os.path.join(aside, f"bucket={b}"))
            if os.path.exists(stage_b):
                os.replace(stage_b, live_b)
        shutil.rmtree(aside)
        shutil.rmtree(staging)
        os.remove(self.index_path + ".intent")

    # -- crash recovery --------------------------------------------------

    def recover(self) -> list[str]:
        """Heal a commit (:meth:`_swap_buckets`) a crash interrupted.

        The ``<index>.intent`` file is the commit record: written after
        staging is complete and before any live dir is touched, removed
        after cleanup.

        - intent present  -> the staged result is the table's truth:
          roll FORWARD (finish the interrupted renames/deletes) to the
          post-operation state;
        - intent absent   -> the operation never committed: live is the
          pre-operation state, any scratch dirs are garbage the next
          commit clears.

        Idempotent, driver-side-only (a handful of renames — no Spark
        job), and invoked automatically on pipeline construction so a
        restart after a crash heals the index before first read. Returns
        the operation rolled forward (``"rewrite"`` for a whole-index
        swap, ``"swap"`` otherwise), or ``[]``. This is the plain-Parquet
        equivalent of a lakehouse table's transaction-log replay; the
        semantics protected are the reference's delete-then-add
        (`index_manager.py:347-368`).
        """
        intent_file = self.index_path + ".intent"
        if not os.path.exists(intent_file):
            return []
        try:
            with open(intent_file) as f:
                intent = json.load(f)
        except ValueError:
            os.remove(intent_file)
            return []
        staging = self.index_path + ".staging"
        aside = self.index_path + ".old"
        staged = set(intent["staged"])
        if os.path.exists(os.path.join(staging, "_SUCCESS")):
            os.makedirs(self.index_path, exist_ok=True)
            for b in intent["buckets"]:
                live_b = os.path.join(self.index_path, f"bucket={b}")
                stage_b = os.path.join(staging, f"bucket={b}")
                if os.path.exists(stage_b):
                    if os.path.exists(live_b):
                        shutil.rmtree(live_b)
                    os.replace(stage_b, live_b)
                elif b in staged:
                    # staged dir gone = already moved into live before the
                    # crash: live_b is the post state, keep it
                    continue
                elif os.path.exists(live_b):
                    # never staged: the swap drops this bucket (e.g. a
                    # delete emptied it)
                    shutil.rmtree(live_b)
        elif os.path.exists(aside):
            # crashed before commit with aside copies somehow present:
            # restore any bucket whose live dir is missing
            for bdir in os.listdir(aside):
                live_b = os.path.join(self.index_path, bdir)
                if not os.path.exists(live_b):
                    os.replace(os.path.join(aside, bdir), live_b)
        for p in (staging, aside):
            if os.path.exists(p):
                shutil.rmtree(p)
        os.remove(intent_file)
        return [intent["op"]]

    # -- the dataflow --------------------------------------------------------

    def gate_extensions(self, docs: DataFrame, filename_col: str = "filename") -> DataFrame:
        """F1 extension whitelist (`document_processor.py:51-60`)."""
        ext = F.lower(F.element_at(F.split(F.col(filename_col), r"\."), -1))
        return docs.filter(ext.isin(*self.config.allowed_extensions))

    def chunk_documents(
        self, docs: DataFrame, filename_col: str = "filename", text_col: str = "text"
    ) -> DataFrame:
        """normalize -> overlapping chunks -> token counts -> embeddings."""
        norm = docs.select(
            F.col(filename_col).alias("filename"),
            TX.normalize_text(F.col(text_col), nfkc=self.config.nfkc).alias("__ntext"),
        )
        chunks = CH.chunk_text(
            norm,
            text_col="__ntext",
            size=self.config.chunk_size,
            overlap=self.config.chunk_overlap,
        )
        return chunks.select(
            "filename",
            F.col("chunk_idx").cast("int"),
            "chunk_text",
            TX.ws_token_count(F.col("chunk_text")).cast("long").alias("n_tokens"),
            fake_embedding(F.col("chunk_text")).alias("embedding"),
        )

    def ingest(
        self,
        docs: DataFrame,
        filename_col: str = "filename",
        text_col: str = "text",
        force: bool = True,
        gate: bool = True,
        observe: bool = True,
    ) -> dict:
        """Idempotent document ingestion (E1/E3: delete-then-add per filename).

        ``force=False`` = the reference's skip-processed incremental mode
        (N1, `document_processor.py:146-202`): documents already indexed
        are anti-joined away before any work happens.
        Returns {"n_documents", "n_chunks"} of the whole index after the
        write (A1 success-count analog); the batch's own counts are in
        ``last_ingest_metrics``.
        """
        exists = self._exists()
        batch = self.gate_extensions(docs, filename_col) if gate else docs
        if not force and exists:
            seen = self.index_table().select("filename").distinct()
            batch = batch.join(
                F.broadcast(seen), batch[filename_col] == seen["filename"], "left_anti"
            )
        new_chunks = self.chunk_documents(batch, filename_col, text_col)
        # Pipeline observability (DataFrame.observe / CollectMetricsExec):
        # batch metrics ride the write job's own scan — zero extra pass,
        # exact under task retries. countDistinct is not observable
        # (needs a shuffle); approx_count_distinct is the supported form.
        # ``observe=False`` for callers running inside foreachBatch:
        # Observation.get waits on a QueryExecutionListener that never
        # fires for actions nested in a streaming micro-batch (it would
        # hang) — streaming metrics belong to StreamingQuery progress.
        from pyspark.sql import Observation

        obs = None
        if observe:
            obs = Observation()
            new_chunks = new_chunks.observe(
                obs,
                F.count(F.lit(1)).alias("chunks_written"),
                F.approx_count_distinct("filename").alias("docs_in_batch_approx"),
                F.coalesce(F.sum(F.length("chunk_text")), F.lit(0)).alias(
                    "chars_written"
                ),
            )
        wrote = True
        if not exists:
            self._rewrite(new_chunks)
        else:
            # Tiny action (<= n_buckets rows) over the raw batch (pre-chunking,
            # pre-embedding): which partition dirs does this upsert touch?
            rows = batch.select(self._bucket(F.col(filename_col)).alias("b")).distinct()
            buckets = {r.b for r in rows.collect()}
            wrote = bool(buckets)
            if wrote:
                merged = merge_by_key(self.index_table(buckets), new_chunks, keys=["filename"])
                self._swap_buckets(merged, buckets)
        #: metrics of the batch the write ACTUALLY ingested (post-gate,
        #: post-skip) — {} when nothing was written (or not observed).
        self.last_ingest_metrics = {}
        if wrote and obs is not None:
            try:
                self.last_ingest_metrics = dict(obs.get)
            except Exception:
                # an all-empty batch can execute the write with zero
                # tasks touching the CollectMetrics node — no metrics
                # row exists to fetch (observed on empty bootstrap)
                pass
        stats = (
            self.index_table()
            .groupBy()
            .agg(
                F.countDistinct("filename").alias("n_documents"),
                F.count("*").alias("n_chunks"),
            )
            .collect()[0]
        )
        return {"n_documents": stats["n_documents"], "n_chunks": stats["n_chunks"]}

    def export_markdown(
        self,
        docs: DataFrame,
        out_dir: str,
        filename_col: str = "filename",
        text_col: str = "text",
    ) -> None:
        """K1 optional file sink: one normalized ``<stem>.md`` per document
        (`markdown_conversion_manager.py:106-108`), written distributed via
        ``foreachPartition`` — the table column stays the primary sink."""
        norm = docs.select(
            F.concat(
                F.regexp_replace(F.col(filename_col), r"\.[^.]*$", ""), F.lit(".md")
            ).alias("relpath"),
            TX.normalize_text(F.col(text_col), nfkc=self.config.nfkc).alias("content"),
        )
        export_files(norm, out_dir, "relpath", "content")

    def save_config(self, index_type: str, model_name: str, distance: str = "cosine") -> dict:
        """K5 index-config persistence (`index_manager.py:263-286`): a
        one-row JSON manifest; when the same (name, distance, model)
        is saved again with a new type, the type LIST merges
        distinct-union style (A6) instead of being replaced. Written
        atomically: a crash mid-write keeps the previous manifest."""
        path = self.index_path + ".config.json"
        cfg = {
            "name": os.path.basename(self.index_path),
            "distance": distance,
            # T13 model-name mangling for filesystem safety
            "model": model_name.replace("/", "_"),
            "types": [index_type],
            "embedding_dim": FAKE_EMBED_DIM,
        }
        if os.path.exists(path):
            with open(path) as f:
                old = json.load(f)
            if (old["name"], old["distance"], old["model"]) == (
                cfg["name"], cfg["distance"], cfg["model"]
            ):
                cfg["types"] = sorted(set(old["types"]) | {index_type})
        _write_json(path, cfg)
        return cfg

    def process_folder(self, input_dir: str, force: bool = True) -> dict:
        """E1 perform_etl: scan a folder, convert to markdown, ingest.

        binaryFile scan (S1/S2, extension-pruned at listing time) ->
        mapInPandas conversion (U1, error-tolerant) -> the ingest
        dataflow. Failed conversions are dropped like the reference's
        per-file try/except (`etl_processor.py:109-111`), not raised.
        """
        from .operators.convert import to_markdown
        from .sources.files import scan_binary_files

        files = scan_binary_files(
            self.spark, input_dir, extensions=self.config.allowed_extensions
        )
        converted = to_markdown(files)
        good = converted.filter(F.col("ok")).select("filename", F.col("markdown").alias("text"))
        return self.ingest(good, force=force, gate=False)

    def ingest_stream(self, input_dir: str) -> None:
        """Continuous ingestion: new text files are discovered by the
        Structured Streaming file source and upserted via foreachBatch
        (N1 exactly-once new-file processing + N3 idempotent merge in
        one mechanism). Drains whatever is new with Trigger.AvailableNow;
        the checkpoint remembers processed files across calls — the
        streaming-native form of ``ingest(force=False)``.
        """
        raw = (
            self.spark.readStream.format("text")
            .option("wholetext", "true")
            .load(input_dir)
        )
        docs = raw.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
            F.col("value").alias("text"),
        )

        def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
            self.ingest(batch_df, force=True, gate=True, observe=False)

        q = (
            docs.writeStream.foreachBatch(upsert_batch)
            .option("checkpointLocation", self.index_path + ".checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def delete_documents(self, filenames: Sequence[str]) -> None:
        """E3 delete_document: drop every chunk of the named documents.

        Bucket-pruned: reads and rewrites only the partition dirs that can
        contain the named files (driver-side crc32 twin of the partition
        expression) — every other bucket is untouched on disk.
        """
        if not self._exists() or not filenames:
            return
        buckets = self._buckets_of(filenames)
        kept = self.index_table(buckets).filter(~F.col("filename").isin(*filenames))
        self._swap_buckets(kept, buckets)

    def compact(self) -> None:
        """Rewrite the whole index into one file per bucket partition.

        Long-running ingest (especially streaming foreachBatch upserts)
        can accrete files inside bucket dirs; periodic compaction
        restores one-file-per-bucket scan efficiency via the same staged,
        crash-safe commit every write uses, over every bucket
        (:meth:`_rewrite`).

        NOT safe concurrently with an in-flight ingest/delete: both
        commits stage into the same scratch dirs, and the whole-table
        swap would drop a bucket a concurrent :meth:`_swap_buckets` is
        mid-replace. Call it between drains —
        ``ingest_stream`` blocks until its AvailableNow drain finishes,
        so sequential callers are always safe; a real deployment with
        concurrent writers does this as a lakehouse OPTIMIZE under the
        table's transaction log instead.
        """
        if not self._exists():
            return
        self._rewrite(self.index_table())

    def documents_metadata(self) -> DataFrame:
        """D2 DocumentMetadata analog: per-document chunk/token stats
        (K4 sink's content, `etl_processor.py:113-140`)."""
        return self.index_table().groupBy("filename").agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("total_tokens"),
        )

    def _query_frame(self, queries: Sequence[str]) -> DataFrame:
        """(q_vec_id, query_text, q_emb): one row per query, id = position."""
        return self.spark.createDataFrame(
            list(enumerate(queries)), "q_vec_id long, query_text string"
        ).withColumn("q_emb", fake_embedding(F.col("query_text")))

    def build_ann_index(self, n_cells: int = 16, kmeans_iter: int = 4) -> str:
        """Train centroids on the index embeddings (k-means) and write a
        cell-partitioned IVF copy next to the index table. Returns its
        path. At 100 TB this is the search-scale path: a probe reads one
        cell's partition instead of the full table."""
        from .operators.ivf import build_ivf_index
        from .operators.kmeans import kmeans_fit

        vec = self.index_table().select(_chunk_id(), F.col("embedding").alias("cemb2"))
        cent = kmeans_fit(
            vec.select(F.col("c_vec_id").alias("vec_id"), F.col("cemb2").alias("emb")),
            k=n_cells,
            max_iter=kmeans_iter,
        )
        path = self.index_path + ".ivf"
        build_ivf_index(vec, cent, path, id_col="c_vec_id", vec_col="cemb2")
        self._ann_centroids = cent.localCheckpoint(eager=True)
        return path

    def ann_search(self, queries: Sequence[str], k: int = 5) -> DataFrame:
        """Approximate top-k via the IVF index (build_ann_index first)."""
        from .operators.ivf import ivf_search

        qdf = self._query_frame(queries).drop("query_text")
        return ivf_search(
            self.spark, self.index_path + ".ivf", qdf, self._ann_centroids, k=k, q_vec="q_emb"
        )

    def hybrid_search(
        self, queries: Sequence[str], k: int = 5, topn: int = 20, rrf_k: int = 60
    ) -> DataFrame:
        """Hybrid dense+lexical retrieval with reciprocal-rank fusion.

        The reference's Qdrant points carry BOTH a dense and a BM25
        sparse vector (index_manager.py:112-126) but defer the hybrid
        query to a sibling repo; this is that search over the index
        table: dense leg = exact cosine top-``topn`` (broadcast query
        set x corpus scan), lexical leg = distinct-word-overlap
        top-``topn`` via an inverted-index join (never all-pairs text
        comparison), fused by sum(1/(rrf_k + rank)) and cut to ``k``.
        Same plan shape as plans/similarity.py::q_hybrid_rrf, which
        carries the cross-engine oracle for the fusion semantics.
        """
        from .functions.text import words
        from .operators.knn import exact_knn

        qdf = self._query_frame(queries)
        qe = qdf.select("q_vec_id", "q_emb")
        chunks = self.index_table().select(
            _chunk_id(), F.col("embedding").alias("c_emb"), "chunk_text"
        )
        dense = exact_knn(F.broadcast(qe), chunks, k=topn).select(
            "q_vec_id", "c_vec_id", F.col("rank").alias("rd")
        )
        qw = qdf.select(
            "q_vec_id", F.explode(words(F.col("query_text"))).alias("word")
        ).distinct()
        cw = chunks.select(
            "c_vec_id", F.explode(words(F.col("chunk_text"))).alias("word")
        ).distinct()
        wl = W.partitionBy("q_vec_id").orderBy(F.desc("overlap"), F.asc("c_vec_id"))
        lex = (
            F.broadcast(qw)
            .join(cw, "word")
            .groupBy("q_vec_id", "c_vec_id")
            .agg(F.count("*").alias("overlap"))
            .withColumn("rl", F.row_number().over(wl))
            .filter(F.col("rl") <= topn)
            .select("q_vec_id", "c_vec_id", "rl")
        )
        fused = dense.join(lex, ["q_vec_id", "c_vec_id"], "full_outer").select(
            "q_vec_id",
            "c_vec_id",
            (
                F.coalesce(1.0 / (rrf_k + F.col("rd")), F.lit(0.0))
                + F.coalesce(1.0 / (rrf_k + F.col("rl")), F.lit(0.0))
            ).alias("rrf"),
        )
        wf = W.partitionBy("q_vec_id").orderBy(F.desc("rrf"), F.asc("c_vec_id"))
        return (
            fused.withColumn("rank", F.row_number().over(wf))
            .filter(F.col("rank") <= k)
            .select("q_vec_id", "rank", "c_vec_id", "rrf")
        )

    def search(self, queries: Sequence[str], k: int = 5, threshold: int = 2048) -> DataFrame:
        """Cost-gated cosine top-k over the index (V4): exact brute
        force (broadcast query side) while the index holds <=
        ``threshold`` rows, the in-memory IVF rewrite above it — the
        SURVEY §4 planner rule (operators/planner.py::auto_knn) exposed
        at the pipeline API, no prebuilt index required (build_ann_index
        + ann_search remain the persisted-layout path)."""
        from .operators.planner import auto_knn

        qdf = self._query_frame(queries).drop("query_text")
        corpus = self.index_table().select(_chunk_id(), F.col("embedding").alias("c_emb"))
        return auto_knn(qdf, corpus, k=k, threshold=threshold)

    def near_dups(self, threshold: int = 4096, tau: float = 0.5) -> DataFrame:
        """Cost-gated near-duplicate chunk pairs over the index — the
        dedup twin of :meth:`search` (operators/planner.py::auto_dedup
        at the pipeline API): exact inverted-index scoring while the
        index holds <= ``threshold`` chunks, MinHash-banded candidates
        with exact verification above. Returns (doc1, doc2, n_common,
        jaccard, strategy) keyed by ``filename#chunk_idx``."""
        from .operators.planner import auto_dedup

        chunks = self.index_table().select(_chunk_id("doc_id"), F.col("chunk_text").alias("text"))
        return auto_dedup(chunks, threshold=threshold, tau=tau)

    def rank_chunks(
        self, metric: str = "n_tokens", threshold: int = 1_000_000
    ) -> DataFrame:
        """Cost-gated exact global rank of the index's chunks by
        ``metric`` ascending (ties broken by filename, chunk_idx) — the
        ordering twin of :meth:`search`/:meth:`near_dups`
        (operators/planner.py::auto_rank at the pipeline API). Small
        indexes sort in one task (the gate's count proved they fit);
        large ones take the two-pass bucketed rank, so callers get a
        scale-safe global ``rank``/``total`` without choosing the
        variant by hand — quality-percentile exports, curriculum
        ordering, and equal-count sharding all start here."""
        from .operators.planner import auto_rank

        chunks = self.index_table().withColumn(
            "__metric", F.coalesce(F.col(metric).cast("double"), F.lit(-1.0))
        )
        return auto_rank(
            chunks,
            [F.asc("__metric"), F.asc("filename"), F.asc("chunk_idx")],
            F.col("__metric"),
            threshold=threshold,
            rank_name="rank",
            total_name="total",
            strategy_name="strategy",
        ).drop("__metric")
