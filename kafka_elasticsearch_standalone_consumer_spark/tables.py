"""Table-format seam (SURVEY §1.4, §4.3).

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the seam is a thin store abstraction over a warehouse directory of
Parquet tables with identical schemas/partitioning. Swapping in Iceberg
means replacing ``read``/``write`` with ``spark.read.format("iceberg")`` /
``df.writeTo(...).partitionedBy(...)`` — nothing else in the engine touches
paths.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    """A directory of named Parquet tables (Iceberg-shaped seam)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith(("part-", "_SUCCESS")) or "=" in f
            for f in os.listdir(p)
        )

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        p = self.path(name)
        w.parquet(p)
        # Spark writes no data file for an empty DataFrame, which loses the
        # schema for later readers (empty-corpus bootstrap, empty segments).
        # Persist a zero-row schema-bearing file in that case.
        if not any(
            f.startswith("part-") or f.endswith(".parquet")
            for _d, _s, files in os.walk(p)
            for f in files
        ):
            import pyarrow.parquet as pq

            # partition columns stay IN the file: with no partition dirs,
            # discovery treats the table as unpartitioned and the column
            # must come from the file schema
            pq.write_table(df.limit(0).toArrow(), os.path.join(p, "part-empty-schema.parquet"))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def read_declared(self, spark: SparkSession, name: str) -> DataFrame:
        """:meth:`read` of an unpartitioned table without its schema
        inference (one Spark job): the read is given the Spark schema its
        first parquet footer declares — the one Spark's writer stored
        there, else what Spark infers from a pyarrow-written file (INT96
        as TIMESTAMP, other naive timestamps as TIMESTAMP_NTZ)."""
        import json

        import pyarrow.dataset as pads
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StructField, StructType, TimestampType

        pf = pq.ParquetFile(min(pads.dataset(self.path(name), format="parquet").files))
        stored = (pf.schema_arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        if stored is not None:
            schema = StructType.fromJson(json.loads(stored))
        else:
            cols = [pf.schema.column(i) for i in range(len(pf.schema))]
            int96 = {c.path for c in cols if c.physical_type == "INT96"}
            schema = StructType([
                StructField(f.name, TimestampType() if f.name in int96 else f.dataType)
                for f in from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True)
            ])
        return spark.read.schema(schema).parquet(self.path(name))

    # -- driver-side fast paths (no Spark job) -----------------------------
    # Control-plane tables are a handful of rows; routing them through a
    # Spark write/read costs a full job each (~0.5 s of pure scheduling),
    # which at 21 control ops per build dominated small-corpus builds and
    # wrecked the N→4N scaling efficiency. These paths produce/consume the
    # SAME parquet layout Spark reads/writes — only the engine differs.

    def count_rows(self, name: str) -> int:
        """Exact row count from parquet footers (metadata-only, no scan)."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        paths = [
            os.path.join(dirpath, f)
            for dirpath, _dirs, files in os.walk(self.path(name))
            for f in files
            if f.endswith(".parquet") or (f.startswith("part-") and not f.endswith(".crc"))
        ]
        if not paths:
            return 0
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return sum(ex.map(lambda p: pq.read_metadata(p).num_rows, paths))

    def write_arrow(self, table, name: str, partition_by: str | None = None) -> None:
        """Overwrite a table with a driver-held Arrow table — the same
        layout :meth:`write` leaves: ``part-*`` parquet files, one
        ``col=value`` directory per value of ``partition_by`` with the
        column left out of its file, and one schema-bearing file (column
        kept) for an empty table. No Arrow schema is stored, and
        timestamps go out as Spark's default writer sends them: TIMESTAMP
        (tz-aware) as INT96, so pyarrow readers see the same types in
        every segment, and TIMESTAMP_NTZ (naive) as INT64, so Spark reads
        it back as NTZ. A table holding both kinds writes both as INT64.
        The table lands in a temp directory that is renamed into place,
        so a crash never leaves a half-written table under ``name``."""
        import shutil

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        int96 = all(
            f.type.tz is not None for f in table.schema if pa.types.is_timestamp(f.type)
        )

        # no min/max statistics for binary columns: pyarrow would copy
        # whole blobs (posting runs) into the footers, and nothing prunes
        # on them
        stats = [
            f.name + (".list.element" if pa.types.is_list(f.type) else "")
            for f in table.schema
            if not pa.types.is_binary(f.type)
        ]

        def put(tbl, path):
            pq.write_table(
                tbl, path, use_deprecated_int96_timestamps=int96, store_schema=False,
                write_statistics=stats,
            )

        tmp = self.path(f"_tmp-{name}-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        if partition_by is None or not table.num_rows:
            put(table, os.path.join(tmp, "part-00000.parquet"))
        else:
            table = table.sort_by(partition_by)
            keys = table.column(partition_by).to_numpy()
            starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            rest = table.drop_columns([partition_by])
            for lo, hi in zip(starts, np.r_[starts[1:], len(keys)]):
                d = os.path.join(tmp, f"{partition_by}={keys[lo]}")
                os.makedirs(d)
                put(rest.slice(lo, hi - lo), os.path.join(d, "part-00000.parquet"))
        dst = self.path(name)
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(tmp, dst)

    def append_rows(self, name: str, rows: list[tuple], arrow_schema) -> None:
        """Append a few control rows as one parquet file (atomic rename)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = self.path(name)
        os.makedirs(p, exist_ok=True)
        cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)]
        table = pa.Table.from_arrays(cols, schema=arrow_schema)
        tmp = os.path.join(p, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(p, f"part-ctl-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, final)

    def write_meta(self, name: str, payload: dict) -> None:
        """Overwrite a one-row JSON metadata table (driver-side)."""
        import json
        import shutil

        import pyarrow as pa

        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        self.append_rows(name, [(json.dumps(payload),)], pa.schema([("meta", pa.string())]))

    def read_meta(self, name: str) -> dict:
        import json

        return json.loads(self.read_rows(name)[0]["meta"])

    def read_rows(self, name: str) -> list[dict]:
        """Read a small control table driver-side (no Spark job)."""
        import pyarrow.parquet as pq

        out: list[dict] = []
        for dirpath, _dirs, files in os.walk(self.path(name)):
            for f in sorted(files):
                if f.endswith(".parquet") or (f.startswith("part-") and not f.endswith(".crc")):
                    out.extend(pq.read_table(os.path.join(dirpath, f)).to_pylist())
        return out


def local_frame(spark: SparkSession, schema: str, columns=None) -> DataFrame:
    """Driver-held rows as a DataFrame over ONE Arrow LocalRelation:
    collecting it launches no Spark job, where a createDataFrame over
    Python rows launches one even when empty (~0.4 s wall, ~1.3 CPU s on
    local[4]). ``columns`` maps each ``schema`` column to an array-like,
    or is a list of row tuples in ``schema`` column order; None or no
    rows gives the empty result."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    if isinstance(columns, list):
        columns = dict(zip(struct.names, map(list, zip(*columns)))) or None
    arrow = to_arrow_schema(struct)
    tbl = arrow.empty_table() if columns is None else pa.table(columns, schema=arrow)
    return spark.createDataFrame(tbl, struct)
