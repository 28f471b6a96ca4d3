"""End-to-end ETL orchestrator: the reference's public API surface
re-expressed Spark-first.

Mirrors `/root/reference/src/etl_processor.py` (E1 `perform_etl`,
E2 `process_file`) and `/root/reference/src/managers/index_manager.py`
(E3 `add_document`/`delete_document`) as ONE lazy DataFrame dataflow:

    files (one binaryFile scan, batch or stream) -> markdown (U1)
              -> extension gate (F1) -> normalize (T1,T3-T7)
              -> chunk + enumerate (U3/W2) -> token counts (A7)
              -> embed (V1, pluggable; deterministic hash-embedding
                 default so the correctness path needs no model)
              -> keyed delete-then-add upsert into the index table (J6)

The "vector store" is a partitioned Parquet table — no external index
server (SURVEY.md §3: the only process boundaries are Spark's own).
Search (V4) is an exact cosine top-k against the same table
(``ETLPipeline.search``); the approximate path is a cell-partitioned
IVF copy built once and probed per query (``build_ann_index`` +
``ann_search``).

Every commit stamps a new index version: its last step renames the
commit record to ``<index>.version``. Readers key what they keep on
it — the read relation (and so Spark's file listing) and search's
persisted corpus are built once per version, the way the reference
builds its index once and queries it many times
(`index_manager.py:96-128`). A commit by any pipeline or process on
the same path moves the version, so no reader serves rows from before
it.

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
from uuid import uuid4

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import tracked_persist, unpersist_tracked
from .functions import text as TX
from .operators import chunking as CH
from .operators import convert
from .operators.export import export_files
from .operators.merge import merge_by_key
from .sources import files as FS

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
        #: (version, relation) of :meth:`index_table`'s last read
        self._read: tuple[str, DataFrame] | None = None
        #: (version, persisted (c_vec_id, c_emb) corpus) of :meth:`search`
        self._search: tuple[str | None, DataFrame] | None = None
        # heal any crash-interrupted commit before the first read (one
        # stat when the index is clean — see recover())
        self.recover()

    # -- index-table plumbing ------------------------------------------------

    def _exists(self) -> bool:
        return bool(_bucket_dirs(self.index_path))

    def _version(self) -> str | None:
        """The index's commit version: the token the last commit stamped
        into ``<index>.version`` (:meth:`_swap_buckets`); ``""`` for an
        index no commit stamped, None while there is no index. A stat and
        one small file read on the driver, no Spark job."""
        if not self._exists():
            return None
        try:
            with open(self.index_path + ".version") as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            return ""

    def index_table(self, buckets: set[int] | None = None) -> DataFrame:
        """Current index contents (empty-but-typed if never written).

        The read relation is built once per index version and reused:
        Spark lists the `bucket=` dirs when it builds the relation, so
        the listing runs once per commit, not once per call.

        With ``buckets``, a partition-pruned read of just those `bucket=`
        dirs: the filter is on the partition column, so Spark reads only
        them — at 100 TB an ingest touches |batch buckets| files, not
        the table.
        """
        version = self._version()
        if version is None:
            return self.spark.createDataFrame([], INDEX_SCHEMA)
        if self._read is None or self._read[0] != version:
            self._read = (version, self.spark.read.schema(_READ_SCHEMA).parquet(self.index_path))
        df = self._read[1]
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
        2. write ``<index>.intent`` with a fresh version token — the
           commit point — and drop the ANN copy ``<index>.ivf``, which
           indexes the old rows;
        3. per bucket, rename the live dir aside to ``<index>.old`` and
           move the staged dir in (a bucket with no staged rows drops);
        4. delete the aside and staging dirs, then rename the intent to
           ``<index>.version``: the new version is what readers see
           (:meth:`_version`), so nothing built on the old one is reused.

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
            {
                "op": op,
                "buckets": sorted(buckets),
                "staged": sorted(_bucket_dirs(staging)),
                "version": uuid4().hex,
            },
        )
        if os.path.exists(self.index_path + ".ivf"):
            shutil.rmtree(self.index_path + ".ivf")
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
        os.replace(self.index_path + ".intent", self.index_path + ".version")

    # -- crash recovery --------------------------------------------------

    def recover(self) -> list[str]:
        """Heal a commit (:meth:`_swap_buckets`) a crash interrupted.

        The ``<index>.intent`` file is the commit record: written after
        staging is complete and before any live dir is touched, renamed
        to ``<index>.version`` after cleanup.

        - intent present  -> the staged result is the table's truth:
          roll FORWARD (finish the interrupted renames/deletes, drop the
          stale ANN copy) to the post-operation state, and stamp its
          version as the commit would have (an intent written without a
          token gets a fresh one);
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
        for p in (staging, aside, self.index_path + ".ivf"):
            if os.path.exists(p):
                shutil.rmtree(p)
        if "version" not in intent:
            _write_json(intent_file, {**intent, "version": uuid4().hex})
        os.replace(intent_file, self.index_path + ".version")
        return [intent["op"]]

    # -- the dataflow --------------------------------------------------------

    def gate_extensions(self, docs: DataFrame) -> DataFrame:
        """F1 extension whitelist (`document_processor.py:51-60`)."""
        ext = F.element_at(F.split(F.col("filename"), r"\."), -1)
        return docs.filter(ext.isin(*self.config.allowed_extensions))

    def chunk_documents(self, docs: DataFrame) -> DataFrame:
        """normalize -> overlapping chunks -> token counts -> embeddings."""
        norm = docs.select(
            "filename", TX.normalize_text(F.col("text"), nfkc=self.config.nfkc).alias("__ntext")
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

    def ingest(self, docs: DataFrame, force: bool = True) -> dict:
        """Idempotent ingestion of (filename, text) documents behind the
        F1 extension gate (E1/E3: delete-then-add per filename).

        ``force=False`` = the reference's skip-processed incremental mode
        (N1, `document_processor.py:146-202`): documents already indexed
        are anti-joined away before any work happens.
        Returns {"n_documents", "n_chunks"} of the whole index after the
        write (A1 success-count analog); the batch's own counts, observed
        on the write job, are in ``last_ingest_metrics``.

        ``docs`` from another SparkSession (a stream's micro-batch, a
        ``newSession()``) is ingested by a pipeline on that session: an
        Observation completes only on an action of the session it was
        registered in, and the upsert's merge reads the index through the
        pipeline's session, so the write has to run in the docs' one.
        """
        if docs.sparkSession is not self.spark:
            on_docs = ETLPipeline(docs.sparkSession, self.index_path, self.config)
            out = on_docs.ingest(docs, force)
            self.last_ingest_metrics = on_docs.last_ingest_metrics
            return out
        exists = self._exists()
        batch = self.gate_extensions(docs)
        if not force and exists:
            batch = self._unindexed(batch)
        if exists:
            # an upsert reads the batch three times (its bucket set, the
            # merge's broadcast and union sides): one conversion feeds all
            batch = tracked_persist(batch)
        try:
            # batch metrics ride the write job's own scan (CollectMetricsExec):
            # no extra pass, exact under task retries, also in a foreachBatch;
            # countDistinct needs a shuffle, so the distinct count is approx
            obs = Observation()
            new_chunks = self.chunk_documents(batch).observe(
                obs,
                F.count(F.lit(1)).alias("chunks_written"),
                F.approx_count_distinct("filename").alias("docs_in_batch_approx"),
                F.coalesce(F.sum(F.length("chunk_text")), F.lit(0)).alias("chars_written"),
            )
            wrote = True
            if not exists:
                self._rewrite(new_chunks)
            else:
                # which partition dirs does the upsert touch? (<= n_buckets rows)
                rows = batch.select(self._bucket(F.col("filename")).alias("b")).distinct()
                buckets = {r.b for r in rows.collect()}
                wrote = bool(buckets)
                if wrote:
                    merged = merge_by_key(self.index_table(buckets), new_chunks, keys=["filename"])
                    self._swap_buckets(merged, buckets)
        finally:
            if exists:
                unpersist_tracked(batch)
        self.last_ingest_metrics = {}  # post-gate, post-skip; {} if nothing was written
        if wrote:
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

    def _unindexed(self, docs: DataFrame) -> DataFrame:
        """``docs`` minus the files the index already holds."""
        seen = self.index_table().select("filename").distinct()
        return docs.join(F.broadcast(seen), docs["filename"] == seen["filename"], "left_anti")

    def export_markdown(self, docs: DataFrame, out_dir: str) -> None:
        """K1 optional file sink: one normalized ``<stem>.md`` per document
        (`markdown_conversion_manager.py:106-108`), written distributed via
        ``foreachPartition`` — the table column stays the primary sink."""
        norm = docs.select(
            F.concat(F.regexp_replace("filename", r"\.[^.]*$", ""), F.lit(".md")).alias("relpath"),
            TX.normalize_text(F.col("text"), nfkc=self.config.nfkc).alias("content"),
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
        :meth:`_ingest_files`. ``force=False`` drops already-indexed files
        before conversion, as the reference skips processed files before
        converting them (`document_processor.py:146-202`). A file whose
        conversion failed is not indexed, so each ``force=False`` run
        converts it again: in the reference's N1 too, only a written
        ``.md`` counts as processed (SURVEY.md:251).
        """
        # module lookups at call time: the benchmark's tracer wraps
        # scan_binary_files and to_markdown on their modules
        files = FS.scan_binary_files(
            self.spark, input_dir, extensions=self.config.allowed_extensions
        )
        if not force and self._exists():
            files = self._unindexed(files)
        return self._ingest_files(files)

    def _ingest_files(self, files: DataFrame) -> dict:
        """The tail batch and stream share: mapInPandas conversion (U1) ->
        :meth:`ingest`. Failed conversions are dropped like the reference's
        per-file try/except (`etl_processor.py:109-111`), not raised."""
        good = convert.to_markdown(files).filter(F.col("ok"))
        return self.ingest(good.select("filename", F.col("markdown").alias("text")))

    def ingest_stream(self, input_dir: str) -> None:
        """Continuous ingestion: :meth:`process_folder`'s scan as a
        file-source stream, each micro-batch through the same conversion
        and upsert (:meth:`_ingest_files`), so a folder gives the same
        index either way (N1 exactly-once new-file processing + N3
        idempotent merge in one mechanism). Drains whatever is new with
        Trigger.AvailableNow; the checkpoint remembers processed files
        across calls — the streaming form of ``process_folder(force=False)``.
        """
        self.last_ingest_metrics = {}
        files = FS.stream_binary_files(
            self.spark, input_dir, extensions=self.config.allowed_extensions
        )

        def upsert(batch: DataFrame, _: int) -> None:
            # a micro-batch lives in the stream's cloned session: ingest
            # runs its write in that session
            self._ingest_files(batch)

        q = (
            files.writeStream.foreachBatch(upsert)
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
        cell-partitioned IVF copy, centroids in ``<copy>/_centroids``, next
        to the index table; a commit drops it. Returns its path. At 100 TB
        this is the search-scale path: a probe reads one cell's partition."""
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
        # a `_` dir: Spark's listing of the cell-partitioned copy skips it
        cent.write.parquet(os.path.join(path, "_centroids"))
        return path

    def ann_search(self, queries: Sequence[str], k: int = 5) -> DataFrame:
        """Approximate top-k via the IVF copy of :meth:`build_ann_index`,
        scored on the JVM as :meth:`search` is."""
        from .operators.ivf import ivf_search

        path = self.index_path + ".ivf"
        centroids = os.path.join(path, "_centroids")
        if not os.path.isdir(centroids):
            raise ValueError(f"no ANN index for {self.index_path}: call build_ann_index first")
        qdf = self._query_frame(queries).drop("query_text")
        return ivf_search(
            self.spark, path, qdf, self.spark.read.parquet(centroids), k=k, q_vec="q_emb"
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
        One operator, operators/knn.py::rrf_hybrid, serves this and
        plans/similarity.py::q_hybrid_rrf, which carries the
        cross-engine oracle for the fusion semantics. The dense leg
        scores on the JVM, as :meth:`search` does.
        """
        from .operators.knn import rrf_hybrid

        qdf = self._query_frame(queries).withColumnRenamed("query_text", "text")
        chunks = self.index_table().select(
            _chunk_id(), F.col("embedding").alias("c_emb"), F.col("chunk_text").alias("text")
        )
        return rrf_hybrid(qdf, chunks, k, topn=topn, rrf_k=rrf_k)

    def search(self, queries: Sequence[str], k: int = 5) -> DataFrame:
        """Exact cosine top-k over the index (V4): the broadcast query
        set crossJoined with the corpus, scored, and cut to ``k`` per
        query by row_number — the Spark form of the reference's flat
        scan (operators/knn.py::exact_knn). The approximate path is
        :meth:`build_ann_index` + :meth:`ann_search`.

        The (c_vec_id, c_emb) corpus is persisted once per index version
        (:meth:`_version`), so a later call on the same version issues
        only query jobs. A commit or a ``release_tracked()`` drain
        rebuilds it on the next call; the rows are those of the
        stateless plan either way. It scores on the JVM expression
        kernels (functions/vectors.py), so a call pays no Python-worker
        round trip."""
        from .operators.knn import exact_knn

        # the version is read before the corpus: a commit in between
        # leaves a corpus keyed on the older version, rebuilt next call
        version = self._version()
        if self._search is None or self._search[0] != version or not self._search[1].is_cached:
            if self._search is not None:
                unpersist_tracked(self._search[1])
            corpus = self.index_table().select(_chunk_id(), F.col("embedding").alias("c_emb"))
            self._search = (version, tracked_persist(corpus))
        qdf = self._query_frame(queries).drop("query_text")
        return exact_knn(F.broadcast(qdf), self._search[1], k=k)

    def near_dups(self, threshold: int = 4096, tau: float = 0.5) -> DataFrame:
        """Cost-gated near-duplicate chunk pairs over the index
        (operators/planner.py::auto_dedup at the pipeline API): exact
        inverted-index scoring while the index holds <= ``threshold``
        chunks, MinHash-banded candidates with exact verification above. Returns (doc1, doc2, n_common,
        jaccard, strategy) keyed by ``filename#chunk_idx``."""
        from .operators.planner import auto_dedup

        chunks = self.index_table().select(_chunk_id("doc_id"), F.col("chunk_text").alias("text"))
        return auto_dedup(chunks, threshold=threshold, tau=tau)

    def rank_chunks(
        self, metric: str = "n_tokens", threshold: int = 1_000_000
    ) -> DataFrame:
        """Cost-gated exact global rank of the index's chunks by
        ``metric`` ascending (ties broken by filename, chunk_idx) — the
        ordering twin of :meth:`near_dups`
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
