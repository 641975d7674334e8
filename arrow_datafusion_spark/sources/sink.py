"""The file sink behind COPY TO and INSERT INTO an external table — the
DataSinkExec analog (datafusion/physical-plan/src/insert.rs:83), one writer
per format like the reference's ``create_writer_physical_plan``.

``write_sink`` owns the three decisions every file write makes:

- **Layout.** ``"append"`` adds part files to the directory at ``path``
  (the reference's COPY and INSERT add files to an existing directory,
  copy.slt:188); ``"overwrite"`` replaces the directory; ``"single_file"``
  writes one file: a single-partition write into a temp directory whose
  part file is moved onto the target (an empty result leaves an empty
  file the format's reader accepts).
- **Part numbering.** Spark's writer names parquet/csv/json parts uniquely
  per write. The arrow and avro writers number theirs from the max
  existing part index + 1 (``open_part_dir``): empty partitions write no
  file, so a count-based offset could land an append on an existing part.
- **Row count.** From the write itself, in its one Spark job: an
  ``Observation`` on the DataFrameWriter for parquet/csv/json,
  per-partition counts from the arrow and avro writers. Nothing is re-run
  or read back, and no row reaches the driver.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

LAYOUTS = ("append", "overwrite", "single_file")
# target extension → format; COPY TO '<name>.<ext>' writes one such file
EXT_FORMATS = {"parquet": "parquet", "csv": "csv", "json": "json",
               "ndjson": "json", "arrow": "arrow", "avro": "avro"}


def local_path(path: str) -> str:
    """``file://`` URL → local filesystem path (other paths unchanged)."""
    return path[len("file://") :] if path.startswith("file://") else path


def file_target_format(path: str) -> str | None:
    """The format a single-file target's extension names; None for a
    directory target or an object-store URL."""
    path = local_path(path)
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", path):
        return None
    name = path.rsplit("/", 1)[-1]
    return EXT_FORMATS.get(name.rsplit(".", 1)[-1].lower()) if "." in name else None


def has_files(path: str) -> bool:
    """Whether a table location holds data files (hidden and ``_``-prefixed
    bookkeeping files aside)."""
    return os.path.isfile(path) or any(
        not f.startswith((".", "_")) for _, _, fs in os.walk(path) for f in fs
    )


def open_part_dir(path: str, mode: str) -> int:
    """Prepare the directory an executor-side writer fills (``"overwrite"``
    empties it first) and return the index of its first new part: the max
    existing ``part-NNNNN`` index + 1, hive partition directories included."""
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    found = [re.match(r"part-(\d+)\.", f) for _, _, fs in os.walk(path) for f in fs]
    return max((int(m.group(1)) + 1 for m in found if m), default=0)


def write_sink(df, fmt: str, path: str, *, layout: str = "append",
               partition_by=(), options: dict | None = None) -> int:
    """Write ``df`` as ``fmt`` files at ``path``; return the rows written.

    ``options`` are Spark writer options for parquet/csv/json and the
    writer's keyword arguments for avro (``schema``, ``codec``,
    ``rows_per_block``); arrow takes none."""
    if layout not in LAYOUTS:
        raise ValueError(f"unknown sink layout {layout!r}")
    path, options = local_path(path), dict(options or {})
    if layout != "single_file":
        return _write_parts(df, fmt, path, layout, partition_by, options)
    tmp = path + ".__sink_tmp__"
    try:
        n = _write_parts(df.coalesce(1), fmt, tmp, "overwrite", partition_by, options)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        if os.path.isdir(path):
            shutil.rmtree(path)
        if parts:
            shutil.move(parts[0], path)  # replaces an existing file
        else:
            _write_empty(df, fmt, path, options)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return n


def _write_parts(df, fmt, path, mode, partition_by, options) -> int:
    if fmt == "arrow":
        from arrow_datafusion_spark.sources.arrow_ipc import write_arrow_partitioned

        return sum(write_arrow_partitioned(df, path, mode, partition_by))
    if fmt == "avro":
        if partition_by:
            raise NotImplementedError("partitioned Avro sinks are not supported")
        from arrow_datafusion_spark.sources.avro import write_avro_partitioned

        return sum(write_avro_partitioned(df, path, mode=mode, **options))
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("n")).write
    writer = writer.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)
    return written.get["n"]


def _write_empty(df, fmt: str, path: str, options: dict) -> None:
    if fmt == "arrow":
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        with pa.OSFile(path, "wb") as fh:
            pa.ipc.new_file(fh, to_arrow_schema(df.schema)).close()
    elif fmt == "avro":
        from arrow_datafusion_spark.sources.avro import avro_schema_of, write_avro

        write_avro(path, options.get("schema") or avro_schema_of(df.schema), [])
    else:
        open(path, "w").close()
