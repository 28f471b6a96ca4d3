"""File sources and sinks beyond the parquet test tables (SURVEY.md §2.1
S1-S4 / §2.2 K3-K4).

The reference lists a folder, filters by extension, and opens each file
imperatively (`/root/reference/src/etl_processor.py:194-197`,
`src/document_processor.py:11`). Spark-first, the directory IS a
DataFrame: ``binaryFile`` rows carry (path, modificationTime, length,
content) and the extension predicate pushes into the file listing via
``pathGlobFilter``; catalogs/metadata are JSON DataFrames with explicit
schemas (the Pydantic-validation analog — never inferSchema).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Allowed-extension default mirrors SUPPORTED_EXTENSION
#: (`/root/reference/src/document_processor.py:11`).
DEFAULT_EXTENSIONS = ("pdf", "txt", "md")

#: ImagesCatalogEntry schema (D3, `image_manager.py:13-20`): bbox as
#: array<double>, nullable caption.
IMAGES_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("imagepath", T.StringType(), False),
        T.StructField("filepath", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("bbox", T.ArrayType(T.DoubleType()), False),
        T.StructField("caption", T.StringType(), True),
    ]
)

#: DocumentMetadata schema (D2, `markdown_conversion_manager.py:25-33`).
DOCUMENT_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("filepath", T.StringType(), False),
        T.StructField("file_extension", T.StringType(), True),
        T.StructField("md_filepath", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("image_folder", T.StringType(), False),
        T.StructField("n_chunks", T.IntegerType(), True),
    ]
)


#: binaryFile's fixed schema, which a file stream must be given.
BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def scan_binary_files(
    spark: SparkSession,
    input_dir: str,
    extensions: Sequence[str] = DEFAULT_EXTENSIONS,
) -> DataFrame:
    """S1+S2: directory scan with extension whitelist, bytes as a column.

    One row per file: (path, modificationTime, length, content, filename,
    file_extension). The glob filter prunes at listing time — unmatched
    files are never opened (the 100 TB analog of F1 running before I/O).
    """
    return _binary_files(spark.read, input_dir, extensions)


def stream_binary_files(
    spark: SparkSession,
    input_dir: str,
    extensions: Sequence[str] = DEFAULT_EXTENSIONS,
) -> DataFrame:
    """:func:`scan_binary_files` as a file-source stream: the same rows
    and glob, for the files new since the stream's checkpoint."""
    return _binary_files(spark.readStream.schema(BINARY_FILE_SCHEMA), input_dir, extensions)


def _binary_files(reader, input_dir: str, extensions: Sequence[str]) -> DataFrame:
    glob = "*.{" + ",".join(extensions) + "}" if len(extensions) > 1 else f"*.{extensions[0]}"
    df = reader.format("binaryFile").option("pathGlobFilter", glob).load(input_dir)
    filename = F.element_at(F.split(F.col("path"), "/"), -1)
    return df.withColumn("filename", filename).withColumn(
        "file_extension", F.lower(F.element_at(F.split(filename, r"\."), -1))
    )


def read_wholetext(spark: SparkSession, path_glob: str) -> DataFrame:
    """S3: each file as ONE string row (`chunking_manager.py:151` analog).

    Returns (path, text). ``wholeText`` keeps a document in a single row
    so downstream per-document kernels see complete texts.
    """
    df = spark.read.text(path_glob, wholetext=True)
    return df.select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )


def read_images_catalog(spark: SparkSession, path: str) -> DataFrame:
    """S4: images-catalog JSON with the explicit D3 schema.

    Explicit schema = the Pydantic revalidation gate
    (`image_manager.py:263-268`): rows that do not conform surface as
    nulls immediately rather than corrupting downstream logic.
    """
    return spark.read.schema(IMAGES_CATALOG_SCHEMA).json(path)


def read_documents_metadata(spark: SparkSession, path: str) -> DataFrame:
    """S4: documents-metadata JSON with the explicit D2 schema."""
    return spark.read.schema(DOCUMENT_METADATA_SCHEMA).json(path)


def write_json_catalog(df: DataFrame, path: str, ignore_null: bool = True) -> None:
    """K3/K4: JSON sink with null-field dropping (= model_dump
    exclude_none, `etl_processor.py:130-133`)."""
    df.write.mode("overwrite").option("ignoreNullFields", str(ignore_null).lower()).json(path)
