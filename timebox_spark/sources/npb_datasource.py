"""Spark 4 Python Data Source for the ``.npb`` format.

Registers the format so users can write idiomatic Spark:

    from timebox_spark.sources.npb_datasource import register_npb
    register_npb(spark)
    df = spark.read.format("npb").load("/data/boxes")
    df = (spark.read.format("npb")
          .option("columns", "ts,value").load(...))   # pruned decode

One input partition per file → full cluster parallelism across a
million-file corpus. Schema and decode are ``read_npb``'s: the first
file's header gives the schema (uint64 as exact decimal(20,0)), and each
partition is one file decoded straight to an Arrow RecordBatch by the
block-skipping codec (timebox_spark.sources.npb).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


def _list_files(path: str) -> list[str]:
    import glob
    import os

    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.npb")))
    return sorted(glob.glob(path))


class NpbDataSource(DataSource):
    """spark.read.format("npb").option("columns", "a,b").load(path)"""

    @classmethod
    def name(cls) -> str:
        return "npb"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        from timebox_spark.sources.npb import arrow_schema, read_header

        files = _list_files(self.options["path"])
        if not files:
            raise FileNotFoundError(f"no .npb files at {self.options['path']}")
        return from_arrow_schema(arrow_schema(read_header(files[0]), self._columns()))

    def _columns(self):
        cols = self.options.get("columns")
        return None if not cols else [c.strip() for c in cols.split(",")]

    def reader(self, schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        return NpbReader(self.options["path"], to_arrow_schema(schema))

    def writer(self, schema, overwrite: bool):
        if overwrite:  # driver-side: clear prior files before tasks run
            import os

            for f in _list_files(self.options["path"]):
                try:
                    os.remove(f)
                except OSError:
                    pass
        return NpbWriter(self.options["path"], overwrite)


class NpbReader(DataSourceReader):
    def __init__(self, path: str, arrow_schema):
        self.path = path
        self.arrow_schema = arrow_schema

    def partitions(self):
        return [InputPartition(f) for f in _list_files(self.path)]

    def read(self, partition):
        from timebox_spark.sources.npb import decode_batch

        with open(partition.value, "rb") as fh:
            yield decode_batch(fh.read(), self.arrow_schema)


@dataclass
class NpbCommit(WriterCommitMessage):
    file: str
    rows: int


class NpbWriter(DataSourceWriter):
    """``df.write.format("npb").save(path)`` — one file per task
    partition (callers control file sizing via repartitionByRange on
    ts upstream, exactly like the parquet path)."""

    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        import os
        import uuid

        import pandas as pd

        from timebox_spark.sources.npb import write_npb_file

        rows = list(iterator)
        fname = os.path.join(self.path, f"part-{uuid.uuid4().hex[:12]}.npb")
        if not rows:
            return NpbCommit(file="", rows=0)
        pdf = pd.DataFrame([r.asDict() for r in rows])
        pdf = pdf.set_index("ts")
        os.makedirs(self.path, exist_ok=True)
        write_npb_file(pdf, fname)
        return NpbCommit(file=fname, rows=len(pdf))

    def commit(self, messages):
        return None

    def abort(self, messages):
        import os

        for m in messages:
            if m and getattr(m, "file", ""):
                try:
                    os.remove(m.file)
                except OSError:
                    pass


def register_npb(spark) -> None:
    from timebox_spark.session import ship_package

    ship_package(spark)
    spark.dataSource.register(NpbDataSource)
