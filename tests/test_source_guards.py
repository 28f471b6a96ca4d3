"""Static source-discipline guards (VERDICT r9 next #6).

Round 9 converted every bare ``.persist()`` / ``.localCheckpoint()`` to
the tracked wrappers (data_etl_spark/cache.py) by hand; one new
untracked call silently re-opens the bench cache leak the wrappers
closed (r8: plan-internal persists accumulating across a 200-query
harness run). This scan fails the suite on the next one.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

#: (path, pattern) pairs allowed to call the raw API.
#: cache.py is the wrapper implementation itself.
ALLOWED = {
    ("data_etl_spark/cache.py", ".persist("),
    ("data_etl_spark/cache.py", ".localCheckpoint("),
}

_RAW = re.compile(r"\.(persist|localCheckpoint)\s*\(")


def _source_files():
    yield from (REPO / "data_etl_spark").rglob("*.py")
    yield REPO / "__spark_entry__.py"
    yield REPO / "bench.py"
    for p in (REPO / "scripts").glob("*.py"):
        yield p


def test_no_bare_persist_or_local_checkpoint():
    offenders = []
    for path in _source_files():
        rel = path.relative_to(REPO).as_posix()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if not _RAW.search(code):
                continue
            if "tracked_persist" in code or "tracked_local_checkpoint" in code:
                continue
            if any(rel == f and pat in code for f, pat in ALLOWED):
                continue
            offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, (
        "bare .persist()/.localCheckpoint() outside cache.py — route through "
        "tracked_persist/tracked_local_checkpoint/CheckpointRotation (or add a justified "
        "ALLOWED entry):\n" + "\n".join(offenders)
    )


def test_guard_catches_injection(tmp_path):
    """The scan itself must flag a bare persist (guard-of-the-guard)."""
    sample = 'df2 = df.persist(StorageLevel.DISK_ONLY)\n'
    code = sample.split("#", 1)[0]
    assert _RAW.search(code) and "tracked_persist" not in code


#: the noop sink and the host-gate calls belong to the one run primitive,
#: scripts/_harness.py (_loadgate.py defines the gate)
_HARNESS_OWNED = re.compile(
    r"""["']noop["']|\b(wait_quiet|wait_fault_probed|fault_probe)\s*\("""
)


def test_timing_scripts_time_through_the_harness():
    assert _HARNESS_OWNED.search('df.write.format("noop").save()')
    assert _HARNESS_OWNED.search("gbs = fault_probe()")
    assert not _HARNESS_OWNED.search('out["fault_probe_end"] = x')
    offenders = []
    for path in [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]:
        if path.name in ("_harness.py", "_loadgate.py"):
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if _HARNESS_OWNED.search(line.split("#", 1)[0]):
                offenders.append(f"{path.relative_to(REPO)}:{lineno}: {line.strip()}")
    assert not offenders, (
        "noop-sink write or host-gate call outside scripts/_harness.py — "
        "use materialize/timed/host_gate from there:\n" + "\n".join(offenders)
    )


#: the DuckDB views and the exact comparison rule belong to the one
#: correctness module, scripts/_oracle.py
_ORACLE_OWNED = re.compile(
    r"CREATE\s+(OR\s+REPLACE\s+)?VIEW|\bdef\s+(frames_equal|dtype_family|canon|canonicalize)\s*\("
)


def test_oracle_checks_go_through_one_module():
    # the samples are split so that this file does not match its own scan
    assert _ORACLE_OWNED.search("con.sql(f'CREATE " + "VIEW {t} AS SELECT 1')")
    assert _ORACLE_OWNED.search("def " + "canon(df):")
    assert not _ORACLE_OWNED.search("def _canon(rows, cols):")
    offenders = []
    for path in sorted([*(REPO / "scripts").glob("*.py"), *(REPO / "tests").glob("*.py")]):
        if path.name == "_oracle.py":
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if _ORACLE_OWNED.search(line):
                offenders.append(f"{path.relative_to(REPO)}:{lineno}: {line.strip()}")
    assert not offenders, (
        "DuckDB view registration or an oracle comparator outside "
        "scripts/_oracle.py — use duckdb_views/frames_equal from there:\n" + "\n".join(offenders)
    )


#: how big a session is (cores, heap) is decided in data_etl_spark/session.py;
#: only that module and its own tests (tests/test_session.py) name these
_SIZING_OWNED = ("sched_getaffinity", "SC_PHYS_PAGES", "SPARK_GRAFT_DRIVER_MEM", "spark.driver.memory")


def test_sessions_are_sized_in_one_module():
    offenders = []
    owners = {REPO / "data_etl_spark" / "session.py", REPO / "tests" / "test_session.py"}
    owners.add(Path(__file__).resolve())
    for path in sorted({*_source_files(), *(REPO / "tests").glob("*.py")} - owners):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if any(token in line for token in _SIZING_OWNED):
                offenders.append(f"{path.relative_to(REPO)}:{lineno}: {line.strip()}")
    assert not offenders, (
        "session sizing outside data_etl_spark/session.py — use build_session "
        "or driver_memory from there:\n" + "\n".join(offenders)
    )


#: the JVM persistent-RDD bookkeeping behind checkpoint rotation belongs
#: to data_etl_spark/cache.py; only that module and its own tests
#: (tests/test_cache_rotation.py) name these
_CKPT_OWNED = re.compile(r"\b(release_ckpt|handle_out|getPersistentRDDs)\b")


def test_checkpoint_bookkeeping_stays_in_cache():
    assert _CKPT_OWNED.search("sc._jsc.getPersistentRDDs().size()")
    assert not _CKPT_OWNED.search("C.persistent_rdd_ids(sc)")
    offenders = []
    owners = {
        REPO / "data_etl_spark" / "cache.py",
        REPO / "tests" / "test_cache_rotation.py",
        Path(__file__).resolve(),
    }
    for path in sorted({*_source_files(), *(REPO / "tests").glob("*.py")} - owners):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if _CKPT_OWNED.search(line):
                offenders.append(f"{path.relative_to(REPO)}:{lineno}: {line.strip()}")
    assert not offenders, (
        "checkpoint bookkeeping outside data_etl_spark/cache.py — use "
        "CheckpointRotation, persistent_rdd_ids or unpersist_rdds from there:\n"
        + "\n".join(offenders)
    )


def _index_reads(source: str) -> list[str]:
    """Functions of ``source`` other than ``index_table`` that call
    ``spark.read`` on an expression naming ``index_path``."""
    import ast

    out = []
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, ast.FunctionDef) or fn.name == "index_table":
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and re.search(r"\bread\b", ast.unparse(node.func))
                and "index_path" in ast.unparse(node)
            ):
                out.append(f"{fn.name}:{node.lineno}: {ast.unparse(node)}")
    return out


def test_only_index_table_reads_the_index():
    """Readers of the index key what they keep on its commit version
    through ETLPipeline.index_table; a direct ``spark.read`` of the index
    path elsewhere in etl.py would serve a listing from before a commit."""
    injected = (
        "class P:\n"
        "    def index_table(self):\n"
        "        return self.spark.read.parquet(self.index_path)\n"
        "    def search(self):\n"
        "        return self.spark.read.schema(S).parquet(self.index_path + '')\n"
    )
    assert [r.split(":")[0] for r in _index_reads(injected)] == ["search"]
    offenders = _index_reads((REPO / "data_etl_spark" / "etl.py").read_text())
    assert not offenders, (
        "data_etl_spark/etl.py reads the index outside index_table — go "
        "through index_table():\n" + "\n".join(offenders)
    )


#: a reader of files as text rows (the ``text`` source, whole-text or not)
_TEXT_READER = re.compile(r"""format\(\s*["']text["']|wholetext|\.read(Stream)?\.text\(""")


def test_one_reader_and_one_converter_for_files():
    """process_folder and ingest_stream read files with the one binaryFile
    scan and convert them in one place, so a folder gives one index
    whichever path ingests it."""
    import ast

    assert _TEXT_READER.search('spark.readStream.format("text").option("wholetext", "true")')
    assert not _TEXT_READER.search("scan_binary_files(self.spark, input_dir)")
    source = (REPO / "data_etl_spark" / "etl.py").read_text()
    converts = [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call) and ast.unparse(node.func).endswith("to_markdown")
    ]
    assert len(converts) == 1, f"etl.py calls to_markdown at lines {converts}"
    readers = [
        f"etl.py:{lineno}: {line.strip()}"
        for lineno, line in enumerate(source.splitlines(), 1)
        if _TEXT_READER.search(line)
    ]
    assert not readers, "etl.py reads files as text:\n" + "\n".join(readers)


#: the Arrow similarity UDFs, by name
_ARROW_KERNELS = re.compile(r"\bseq_(dot|cosine|cosine_pre)\b")

#: code that names them: their home, the registry plans that keep them
#: inline (q_rp_lsh_pairs, q_lsh_adaptive, q_semantic_dedup), the
#: calibration script that times them against the expression twins,
#: and the tests that pin them
_ARROW_KERNEL_SITES = {
    "data_etl_spark/functions/vectors.py",
    "data_etl_spark/plans/similarity.py",
    "scripts/calibrate_gates.py",
    "tests/test_kernels.py",
    "tests/test_stress.py",
}


def test_arrow_kernels_are_named_only_at_listed_sites():
    """Everything else, the retrieval operators included, scores pairs
    with the JVM expression kernels, so an Arrow UDF cannot creep back
    onto a per-call path. Comments do not count."""
    assert _ARROW_KERNELS.search("d = V.seq_" + "cosine(a, b)")
    assert not _ARROW_KERNELS.search("d = V.cosine(a, b)  ")
    files = [*_source_files(), *(REPO / "tests").glob("*.py")]
    naming = {
        path.relative_to(REPO).as_posix()
        for path in files
        if any(
            _ARROW_KERNELS.search(line.split("#", 1)[0])
            for line in path.read_text().splitlines()
        )
    }
    assert naming <= _ARROW_KERNEL_SITES, sorted(naming - _ARROW_KERNEL_SITES)
