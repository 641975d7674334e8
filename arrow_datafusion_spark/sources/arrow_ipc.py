"""Arrow IPC file source/sink — the ArrowExec analog
(/root/reference/datafusion/core/src/datasource/physical_plan/arrow_file.rs:49)
without a native Spark connector.

Exposed through PySpark's Python Data Source API as
``spark.read.format("arrow_ipc").load(path)``:

- Planning (driver): list the ``*.arrow`` files (or take the single file)
  and read ONE footer for the schema; each record batch of each file
  becomes an InputPartition — the same batch-level split parallelism
  ArrowExec derives from the IPC footer.
- Execution (executors): each task memory-maps its file and yields just its
  record batch — pyarrow does zero-copy reads off the footer index.

The sink side (`write_arrow_partitioned`) writes one IPC file per DataFrame
partition via mapInPandas — no driver materialization, mirroring how a
cluster job would emit IPC shards to shared storage.
"""

from __future__ import annotations


def _list_files(path: str) -> list[str]:
    import glob as _glob
    import os as _os

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.arrow"), recursive=True)
        if _os.path.isdir(path)
        else [path]
    )
    if not files:
        raise ValueError(f"no .arrow files under {path!r}")
    return files


def _partition_columns(base: str, files: list[str]) -> dict[str, dict[str, object]]:
    """Hive-style ``key=value`` directory partitioning (the reference's
    ListingTable partition discovery, datasource/listing/table.rs): map
    partition key → {file → typed value}. Values that all parse as ints
    surface as int64 columns (DataFusion infers partition value types),
    everything else as strings."""
    import os as _os

    per_key: dict[str, dict[str, str]] = {}
    for f in files:
        rel = _os.path.relpath(f, base)
        for seg in rel.split(_os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                per_key.setdefault(k, {})[f] = v
    out: dict[str, dict[str, object]] = {}
    for k, vals in per_key.items():
        # the type decision must hold across ALL files (mixed layouts where
        # some files lack the key surface a NULL for them): int64 only when
        # every file has the key and every value parses as int — otherwise
        # string, so schema() and read() agree for every partition
        try:
            if len(vals) == len(files):
                out[k] = {f: int(v) for f, v in vals.items()}
            else:
                out[k] = {f: vals.get(f) for f in files}
        except ValueError:
            out[k] = {f: vals.get(f) for f in files}
    return out


def write_arrow_partitioned(df, path: str) -> None:
    """Each DataFrame partition → one ``part-NNNNN.arrow`` IPC file under
    ``path`` (executor-side; Arrow batches pass through mapInPandas so no
    row ever reaches the driver)."""
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    schema = df.schema

    def _write_part(pdfs):
        import arrow_datafusion_spark.worker  # noqa: F401  (zip shim)
        import pyarrow as pa
        import pyarrow.ipc as ipc
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        writer = None
        pid = TaskContext.get().partitionId()
        for pdf in pdfs:
            tbl = pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
            if writer is None:
                sink = pa.OSFile(os.path.join(path, f"part-{pid:05d}.arrow"), "wb")
                writer = ipc.new_file(sink, arrow_schema)
            writer.write_table(tbl)
        if writer is not None:
            writer.close()
            sink.close()
        return iter(())  # sink-only: emit no rows

    # mapInPandas gives Arrow-batched input; the empty-schema output makes
    # this a pure side-effecting sink stage (count() forces execution).
    df.mapInPandas(_write_part, "ok int").count()


# Type-coercion policy (SURVEY §1.2; reference Arrow types at
# /root/reference/datafusion/common/src/scalar/mod.rs:206,216-222,255-261):
# - Time32/Time64 (any unit): Spark has no TIME-of-day type. Decided
#   representation: BIGINT nanoseconds since midnight (lossless from every
#   Arrow unit; callers get exact integer arithmetic).
# - Decimal256(p, s): p ≤ 38 downcasts losslessly-representable values to
#   Spark DECIMAL(p, s); p > 38 is REJECTED with an explicit error naming
#   the ceiling (silent truncation would be the worst behavior).
# - UInt8/16/32/64: Spark has no unsigned ints — widen to the next signed
#   type that holds the full range (int16/int32/int64/decimal(20,0)), the
#   same table SURVEY §1.2 documents.
_TIME_NS_FACTOR = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}


def _coerced_type(t):
    """Arrow type → coerced Arrow type per the policy above (None = keep)."""
    import pyarrow as pa

    if pa.types.is_time32(t) or pa.types.is_time64(t):
        return pa.int64()
    if pa.types.is_decimal256(t):
        if t.precision > 38:
            raise ValueError(
                f"Decimal256({t.precision}, {t.scale}) exceeds Spark's "
                "DECIMAL(38) precision ceiling; re-scale the column to "
                "precision <= 38 (or read it as string) before scanning"
            )
        return pa.decimal128(t.precision, t.scale)
    if pa.types.is_uint8(t):
        return pa.int16()
    if pa.types.is_uint16(t):
        return pa.int32()
    if pa.types.is_uint32(t):
        return pa.int64()
    if pa.types.is_uint64(t):
        return pa.decimal128(20, 0)
    return None


def _coerce_schema(schema):
    import pyarrow as pa

    fields = []
    for f in schema:
        ct = _coerced_type(f.type)
        fields.append(f.with_type(ct) if ct is not None else f)
    return pa.schema(fields)


def _coerce_batch(batch):
    import pyarrow as pa
    import pyarrow.compute as pc

    cols, changed = [], False
    for i, f in enumerate(batch.schema):
        col = batch.column(i)
        ct = _coerced_type(f.type)
        if ct is None:
            cols.append(col)
            continue
        changed = True
        if pa.types.is_time32(f.type) or pa.types.is_time64(f.type):
            # time → ns since midnight. No cast path exists from time
            # types; view() reinterprets the underlying int32/int64
            # storage, then widen + scale.
            unit = f.type.unit
            storage = pa.int32() if pa.types.is_time32(f.type) else pa.int64()
            raw = col.view(storage).cast(pa.int64())
            cols.append(pc.multiply(raw, pa.scalar(_TIME_NS_FACTOR[unit])))
        else:  # decimal256 → decimal128 (pre-checked) / unsigned widening
            cols.append(col.cast(ct))
    if not changed:
        return batch
    return pa.RecordBatch.from_arrays(cols, schema=_coerce_schema(batch.schema))


try:  # Python Data Source API (Spark 4+)
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _IpcBatch(InputPartition):
        def __init__(self, path: str, batch: int, part_vals: tuple):
            self.path, self.batch, self.part_vals = path, batch, part_vals

    class _IpcReader(DataSourceReader):
        def __init__(self, options):
            self.base = options["path"]
            self.files = _list_files(self.base)
            self.part_cols = _partition_columns(self.base, self.files)

        def partitions(self):
            import pyarrow.ipc as ipc

            parts = []
            for f in self.files:
                pv = tuple(
                    (k, vals.get(f)) for k, vals in sorted(self.part_cols.items())
                )
                with ipc.open_file(f) as r:
                    parts.extend(
                        _IpcBatch(f, i, pv) for i in range(r.num_record_batches)
                    )
            return parts

        def read(self, partition: _IpcBatch):
            import pyarrow as pa
            import pyarrow.ipc as ipc

            # Yield the RecordBatch itself — the Python Data Source API
            # ships Arrow batches to the JVM without per-row Python object
            # conversion, keeping the scan Arrow-native end to end.
            with ipc.open_file(partition.path) as r:
                batch = _coerce_batch(r.get_batch(partition.batch))
            if partition.part_vals:
                # hive-partitioned layout: append the directory-derived
                # partition values as constant columns (ListingTable
                # appends partition columns after the file columns)
                arrays = list(batch.columns)
                names = list(batch.schema.names)
                for k, v in partition.part_vals:
                    t = pa.int64() if isinstance(v, int) else pa.string()
                    arrays.append(pa.array([v] * batch.num_rows, type=t))
                    names.append(k)
                batch = pa.RecordBatch.from_arrays(arrays, names=names)
            yield batch

    class ArrowIpcDataSource(DataSource):
        """``spark.read.format("arrow_ipc").load(path)`` — one Spark task
        per IPC record batch."""

        @classmethod
        def name(cls):
            return "arrow_ipc"

        def schema(self):
            import pyarrow as pa
            import pyarrow.ipc as ipc
            from pyspark.sql.pandas.types import from_arrow_schema

            files = _list_files(self.options["path"])
            with ipc.open_file(files[0]) as r:
                sch = _coerce_schema(r.schema)
            for k, vals in sorted(
                _partition_columns(self.options["path"], files).items()
            ):
                t = (
                    pa.int64()
                    if all(isinstance(v, int) for v in vals.values())
                    else pa.string()
                )
                sch = sch.append(pa.field(k, t))
            return from_arrow_schema(sch)

        def reader(self, schema):
            return _IpcReader(self.options)

    def register(spark) -> None:
        spark.dataSource.register(ArrowIpcDataSource)

except ImportError:  # pragma: no cover — pre-4.0 PySpark

    def register(spark) -> None:
        raise NotImplementedError(
            "arrow_ipc needs the Python Data Source API (Spark 4+)"
        )
