"""binaryFile → mapInPandas scan for non-splittable formats.

The reference walks local directories of downloaded .xlsx/.docx files
single-threaded (reference episode_stats_extract.py:391-444,
confessional_extract.py:50-68).  Spark's unit of parallelism for such
formats is the *file*: ``binaryFile`` lists and distributes files as
rows (path, modificationTime, length, content), and an Arrow-batched
``mapInPandas`` parser emits normalized rows per file.  At 100 TB
(millions of files) listing parallelizes via the file index and each
task parses a bounded batch of files — no driver-side loop.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """List + load files as (path, modificationTime, length, content).

    Mirrors the reference's regex file filter (C5,
    episode_stats_extract.py:410-411) via ``pathGlobFilter`` — applied
    at listing time, before any bytes are read."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def parse_binary_files(
    files: DataFrame,
    parser: Callable[[str, bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """Apply ``parser(path, content) -> iterable of row-tuples`` to
    each file, partition-parallel, Arrow-batched.

    The parser runs on executors; per-file failures raise with the
    path in the message so a bad file is attributable."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    out.extend(parser(path, bytes(content)))
                except Exception as e:  # noqa: BLE001 - annotate and rethrow
                    raise RuntimeError(f"parse failed for {path}: {e}") from e
            if out:
                yield pd.DataFrame(out)

    cols = files.select("path", "content")
    return cols.mapInPandas(run, schema=schema)
