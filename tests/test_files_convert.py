"""Tests for file sources/sinks (S1-S4, K3/K4) and the U1 conversion
stage: binaryFile scan with listing-time extension pruning, wholetext
read, schema'd JSON catalog roundtrip, error-tolerant to_markdown, and
the full process_folder E1 path."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_etl_spark.etl import ETLConfig, ETLPipeline
from data_etl_spark.operators.convert import to_markdown
from data_etl_spark.sources.files import (
    read_images_catalog,
    read_wholetext,
    scan_binary_files,
    write_json_catalog,
)


def _mkdocs(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("alpha " * 300)
    (d / "b.md").write_text("# Title\n\nbody " * 200)
    (d / "c.exe").write_bytes(b"\x00\x01\x02")
    (d / "d.txt").write_bytes(b"\xff\xfe invalid \xc3")
    return str(d)


def test_scan_binary_files_prunes_extensions(spark, tmp_path):
    d = _mkdocs(tmp_path)
    df = scan_binary_files(spark, d, extensions=("txt", "md"))
    rows = {r.filename: r for r in df.collect()}
    assert set(rows) == {"a.txt", "b.md", "d.txt"}  # c.exe never listed
    assert rows["a.txt"].length == len("alpha " * 300)
    assert rows["b.md"].file_extension == "md"
    assert bytes(rows["a.txt"].content).decode() == "alpha " * 300


def test_to_markdown_error_tolerant(spark, tmp_path):
    d = _mkdocs(tmp_path)
    out = to_markdown(scan_binary_files(spark, d, extensions=("txt", "md")))
    rows = {r.filename: r for r in out.collect()}
    assert rows["a.txt"].ok and rows["a.txt"].n_pages == 3  # 1800 chars / 800
    assert rows["b.md"].markdown.startswith("# Title")
    assert not rows["d.txt"].ok and "undecodable" in rows["d.txt"].err
    assert rows["d.txt"].markdown is None


def test_process_folder_end_to_end(spark, tmp_path):
    d = _mkdocs(tmp_path)
    pipe = ETLPipeline(
        spark, str(tmp_path / "idx"), ETLConfig(chunk_size=100, chunk_overlap=20)
    )
    stats = pipe.process_folder(d)
    assert stats["n_documents"] == 2  # c.exe gated, d.txt failed conversion
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"a.txt", "b.md"}


def test_process_folder_skips_indexed_files_before_conversion(spark, tmp_path, monkeypatch):
    """force=False converts only what the index does not hold yet: the
    two indexed files never reach to_markdown on the re-run."""
    from data_etl_spark.operators import convert

    d = _mkdocs(tmp_path)
    pipe = ETLPipeline(
        spark, str(tmp_path / "idx"), ETLConfig(chunk_size=100, chunk_overlap=20)
    )
    pipe.process_folder(d)
    (tmp_path / "in" / "e.txt").write_text("epsilon " * 50)
    seen: list[str] = []

    def spy(files, *a, **kw):
        seen.extend(r.filename for r in files.select("filename").collect())
        return to_markdown(files, *a, **kw)

    monkeypatch.setattr(convert, "to_markdown", spy)
    stats = pipe.process_folder(d, force=False)
    # d.txt failed conversion at bootstrap, so it is not indexed either
    assert sorted(seen) == ["d.txt", "e.txt"]
    assert stats["n_documents"] == 3


def test_each_file_is_converted_once_per_call(spark, tmp_path, monkeypatch):
    """A bootstrap, an upsert into the index and a force=False run each
    hand every file to to_markdown once: an upsert reads its converted
    batch for the bucket set and both sides of the merge, from one
    conversion. The count is an accumulator in a mapInPandas placed in
    front of the converter, so it sees every execution of its input."""
    from data_etl_spark.operators import convert

    seen = spark.sparkContext.accumulator(0)

    def count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    def counted(files, *a, **kw):
        return to_markdown(files.mapInPandas(count, schema=files.schema), *a, **kw)

    def conversions(run):
        before = seen.value
        run()
        return seen.value - before

    monkeypatch.setattr(convert, "to_markdown", counted)
    d = _mkdocs(tmp_path)
    pipe = ETLPipeline(
        spark, str(tmp_path / "idx"), ETLConfig(chunk_size=100, chunk_overlap=20)
    )
    assert conversions(lambda: pipe.process_folder(d)) == 3  # a.txt b.md d.txt
    assert conversions(lambda: pipe.process_folder(d)) == 3
    (tmp_path / "in" / "e.txt").write_text("epsilon " * 50)
    # d.txt failed conversion, so it is not indexed and converts again
    assert conversions(lambda: pipe.process_folder(d, force=False)) == 2


def test_wholetext_read(spark, tmp_path):
    d = _mkdocs(tmp_path)
    df = read_wholetext(spark, d + "/a.txt")
    rows = df.collect()
    assert len(rows) == 1 and rows[0].text == "alpha " * 300


def test_json_catalog_roundtrip(spark, tmp_path):
    entries = [
        {
            "id": "FIG_001_01",
            "imagepath": "/img/f1.png",
            "filepath": "/doc/a.pdf",
            "page": 1,
            "bbox": [1.0, 2.0, 30.5, 40.25],
            "caption": "Figure 1",
        },
        {
            "id": "FIG_002_01",
            "imagepath": "/img/f2.png",
            "filepath": "/doc/a.pdf",
            "page": 2,
            "bbox": [0.0, 0.0, 10.0, 10.0],
            "caption": None,
        },
    ]
    src = tmp_path / "catalog.jsonl"
    src.write_text("\n".join(json.dumps(e) for e in entries))
    df = read_images_catalog(spark, str(src))
    got = {r.id: r for r in df.collect()}
    assert got["FIG_001_01"].bbox == [1.0, 2.0, 30.5, 40.25]
    assert got["FIG_002_01"].caption is None

    # K3 write with exclude_none semantics: null caption key dropped
    out = tmp_path / "out_catalog"
    write_json_catalog(df, str(out))
    lines = []
    for f in out.glob("*.json"):
        lines += [json.loads(line) for line in f.read_text().splitlines()]
    by_id = {e["id"]: e for e in lines}
    assert "caption" not in by_id["FIG_002_01"]
    assert by_id["FIG_001_01"]["caption"] == "Figure 1"
