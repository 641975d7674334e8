"""DataFusion-compatible session configuration registry.

The reference exposes a typed configuration namespace (``datafusion.*``)
through ``SET`` / ``SHOW`` SQL and the ``information_schema.df_settings``
view (datafusion/common/src/config.rs ``ConfigOptions``;
datafusion/core/src/catalog/information_schema.rs ``DfSettingsTable``;
SET/SHOW statement handling in datafusion/sql/src/planner.rs and
sqllogictest coverage in test_files/set_variable.slt, options.slt,
information_schema.slt).

This module mirrors that surface: the same key namespace and defaults,
the same typed parse errors (``Error parsing abc as bool`` /
``Error parsing -1 as usize``), and — where a key has a real Spark
equivalent — a live mapping onto the SparkSession conf so the setting
actually changes engine behavior:

==============================================  =============================
DataFusion key                                  Spark effect
==============================================  =============================
datafusion.execution.target_partitions          spark.sql.shuffle.partitions
datafusion.execution.batch_size                 Arrow maxRecordsPerBatch
datafusion.execution.time_zone                  spark.sql.session.timeZone
datafusion.execution.coalesce_batches           AQE coalescePartitions
datafusion.execution.parquet.compression        parquet compression codec
datafusion.optimizer.prefer_hash_join           preferSortMergeJoin (inverse)
datafusion.catalog.information_schema           gates information_schema SQL
datafusion.catalog.has_header                   CSV default header
datafusion.execution.enable_recursive_ctes      gates WITH RECURSIVE
datafusion.sql_parser.parse_float_as_decimal    decimal literal typing
datafusion.catalog.default_catalog/_schema      information_schema display
==============================================  =============================

Unmapped keys are accepted, validated, stored, and visible through
SHOW/df_settings — exactly like the reference, where many options only
influence subsystems a given query never touches.
"""

from __future__ import annotations

import re

_U64_MAX = 18446744073709551615

# key suffix (under "datafusion.") → (default value or callable, type)
# Types: "bool" / "usize" / "string" and Option<> variants "opt_bool" /
# "opt_usize" / "opt_f64" / "opt_string" (default NULL, shown as NULL).
# Machine-dependent defaults (target_partitions, planning_concurrency are
# "number of cores" in the reference) are callables evaluated at init.


def _cores(spark) -> str:
    return str(spark.sparkContext.defaultParallelism)


_REGISTRY: dict[str, tuple[object, str]] = {
    "catalog.create_default_catalog_and_schema": ("true", "bool"),
    "catalog.default_catalog": ("datafusion", "string"),
    "catalog.default_schema": ("public", "string"),
    "catalog.format": (None, "opt_string"),
    "catalog.has_header": ("false", "bool"),
    "catalog.information_schema": ("false", "bool"),
    "catalog.location": (None, "opt_string"),
    "execution.aggregate.scalar_update_factor": ("10", "usize"),
    "execution.batch_size": ("8192", "usize"),
    "execution.coalesce_batches": ("true", "bool"),
    "execution.collect_statistics": ("false", "bool"),
    "execution.enable_recursive_ctes": ("true", "bool"),
    "execution.keep_partition_by_columns": ("false", "bool"),
    "execution.listing_table_ignore_subdirectory": ("true", "bool"),
    "execution.max_buffered_batches_per_output_file": ("2", "usize"),
    "execution.meta_fetch_concurrency": ("32", "usize"),
    "execution.minimum_parallel_output_files": ("4", "usize"),
    "execution.parquet.allow_single_file_parallelism": ("true", "bool"),
    "execution.parquet.bloom_filter_fpp": (None, "opt_f64"),
    "execution.parquet.bloom_filter_ndv": (None, "opt_usize"),
    "execution.parquet.bloom_filter_on_read": ("true", "bool"),
    "execution.parquet.bloom_filter_on_write": ("false", "bool"),
    "execution.parquet.column_index_truncate_length": (None, "opt_usize"),
    "execution.parquet.compression": ("zstd(3)", "opt_string"),
    "execution.parquet.created_by": ("datafusion", "string"),
    "execution.parquet.data_page_row_count_limit": (str(_U64_MAX), "usize"),
    "execution.parquet.data_pagesize_limit": ("1048576", "usize"),
    "execution.parquet.dictionary_enabled": (None, "opt_bool"),
    "execution.parquet.dictionary_page_size_limit": ("1048576", "usize"),
    "execution.parquet.enable_page_index": ("true", "bool"),
    "execution.parquet.encoding": (None, "opt_string"),
    "execution.parquet.max_row_group_size": ("1048576", "usize"),
    "execution.parquet.max_statistics_size": (None, "opt_usize"),
    "execution.parquet.maximum_buffered_record_batches_per_stream": ("2", "usize"),
    "execution.parquet.maximum_parallel_row_group_writers": ("1", "usize"),
    "execution.parquet.metadata_size_hint": (None, "opt_usize"),
    "execution.parquet.pruning": ("true", "bool"),
    "execution.parquet.pushdown_filters": ("false", "bool"),
    "execution.parquet.reorder_filters": ("false", "bool"),
    "execution.parquet.skip_metadata": ("true", "bool"),
    "execution.parquet.statistics_enabled": (None, "opt_string"),
    "execution.parquet.write_batch_size": ("1024", "usize"),
    "execution.parquet.writer_version": ("1.0", "string"),
    "execution.planning_concurrency": (_cores, "usize"),
    "execution.soft_max_rows_per_output_file": ("50000000", "usize"),
    "execution.sort_in_place_threshold_bytes": ("1048576", "usize"),
    "execution.sort_spill_reservation_bytes": ("10485760", "usize"),
    "execution.split_file_groups_by_statistics": ("false", "bool"),
    "execution.target_partitions": (_cores, "usize"),
    "execution.time_zone": ("+00:00", "string"),
    "explain.logical_plan_only": ("false", "bool"),
    "explain.physical_plan_only": ("false", "bool"),
    "explain.show_schema": ("false", "bool"),
    "explain.show_sizes": ("true", "bool"),
    "explain.show_statistics": ("false", "bool"),
    "optimizer.allow_symmetric_joins_without_pruning": ("true", "bool"),
    "optimizer.default_filter_selectivity": ("20", "usize"),
    "optimizer.enable_distinct_aggregation_soft_limit": ("true", "bool"),
    "optimizer.enable_round_robin_repartition": ("true", "bool"),
    "optimizer.enable_topk_aggregation": ("true", "bool"),
    "optimizer.filter_null_join_keys": ("false", "bool"),
    "optimizer.hash_join_single_partition_threshold": ("1048576", "usize"),
    "optimizer.hash_join_single_partition_threshold_rows": ("131072", "usize"),
    "optimizer.max_passes": ("3", "usize"),
    "optimizer.prefer_existing_sort": ("false", "bool"),
    "optimizer.prefer_existing_union": ("false", "bool"),
    "optimizer.prefer_hash_join": ("true", "bool"),
    "optimizer.repartition_aggregations": ("true", "bool"),
    "optimizer.repartition_file_min_size": ("10485760", "usize"),
    "optimizer.repartition_file_scans": ("true", "bool"),
    "optimizer.repartition_joins": ("true", "bool"),
    "optimizer.repartition_sorts": ("true", "bool"),
    "optimizer.repartition_windows": ("true", "bool"),
    "optimizer.skip_failed_rules": ("false", "bool"),
    "optimizer.top_down_join_key_reordering": ("true", "bool"),
    "sql_parser.dialect": ("generic", "string"),
    "sql_parser.enable_ident_normalization": ("true", "bool"),
    "sql_parser.parse_float_as_decimal": ("false", "bool"),
    "sql_parser.support_varchar_with_length": ("true", "bool"),
}

# Descriptions for SHOW ... VERBOSE and information_schema.df_settings —
# the reference's own option documentation (public API surface of
# datafusion/common/src/config.rs ConfigOptions doc text, as rendered by
# its SHOW ALL VERBOSE golden in test_files/information_schema.slt). The
# Spark-side effect of each mapped key is the table in this module's
# docstring; the description text is the cross-engine contract users see.
_DESCRIPTIONS = {
    'catalog.create_default_catalog_and_schema': (
        'Whether the default catalog and schema should be created automatically.'
    ),
    'catalog.default_catalog': (
        'The default catalog name - this impacts what SQL queries use if not specified'
    ),
    'catalog.default_schema': (
        'The default schema name - this impacts what SQL queries use if not specified'
    ),
    'catalog.format': (
        'Type of `TableProvider` to use when loading `default` schema'
    ),
    'catalog.has_header': (
        'Default value for `format.has_header` for `CREATE EXTERNAL TABLE` if not specified explicitly in the statement.'
    ),
    'catalog.information_schema': (
        'Should DataFusion provide access to `information_schema` virtual tables for displaying schema information'
    ),
    'catalog.location': (
        'Location scanned to load tables for `default` schema'
    ),
    'execution.aggregate.scalar_update_factor': (
        'Specifies the threshold for using `ScalarValue`s to update accumulators during high-cardinality aggregations for each input batch. The aggregation is considered high-cardinality if the number of affected groups is greater than or equal to `batch_size / scalar_update_factor`. In such cases, `ScalarValue`s are utilized for updating accumulators, rather than the default batch-slice approach. This can lead to performance improvements. By adjusting the `scalar_update_factor`, you can balance the trade-off between more efficient accumulator updates and the number of groups affected.'
    ),
    'execution.batch_size': (
        "Default batch size while creating new batches, it's especially useful for buffer-in-memory batches since creating tiny batches would result in too much metadata memory consumption"
    ),
    'execution.coalesce_batches': (
        'When set to true, record batches will be examined between each operator and small batches will be coalesced into larger batches. This is helpful when there are highly selective filters or joins that could produce tiny output batches. The target batch size is determined by the configuration setting'
    ),
    'execution.collect_statistics': (
        'Should DataFusion collect statistics after listing files'
    ),
    'execution.enable_recursive_ctes': (
        'Should DataFusion support recursive CTEs'
    ),
    'execution.keep_partition_by_columns': (
        'Should Datafusion keep the columns used for partition_by in the output RecordBatches'
    ),
    'execution.listing_table_ignore_subdirectory': (
        'Should sub directories be ignored when scanning directories for data files. Defaults to true (ignores subdirectories), consistent with Hive. Note that this setting does not affect reading partitioned tables (e.g. `/table/year=2021/month=01/data.parquet`).'
    ),
    'execution.max_buffered_batches_per_output_file': (
        'This is the maximum number of RecordBatches buffered for each output file being worked. Higher values can potentially give faster write performance at the cost of higher peak memory consumption'
    ),
    'execution.meta_fetch_concurrency': (
        'Number of files to read in parallel when inferring schema and statistics'
    ),
    'execution.minimum_parallel_output_files': (
        'Guarantees a minimum level of output files running in parallel. RecordBatches will be distributed in round robin fashion to each parallel writer. Each writer is closed and a new file opened once soft_max_rows_per_output_file is reached.'
    ),
    'execution.parquet.allow_single_file_parallelism': (
        'Controls whether DataFusion will attempt to speed up writing parquet files by serializing them in parallel. Each column in each row group in each output file are serialized in parallel leveraging a maximum possible core count of n_files*n_row_groups*n_columns.'
    ),
    'execution.parquet.bloom_filter_fpp': (
        'Sets bloom filter false positive probability. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.bloom_filter_ndv': (
        'Sets bloom filter number of distinct values. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.bloom_filter_on_read': (
        'Use any available bloom filters when reading parquet files'
    ),
    'execution.parquet.bloom_filter_on_write': (
        'Write bloom filters for all columns when creating parquet files'
    ),
    'execution.parquet.column_index_truncate_length': (
        'Sets column index truncate length'
    ),
    'execution.parquet.compression': (
        'Sets default parquet compression codec Valid values are: uncompressed, snappy, gzip(level), lzo, brotli(level), lz4, zstd(level), and lz4_raw. These values are not case sensitive. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.created_by': (
        'Sets "created by" property'
    ),
    'execution.parquet.data_page_row_count_limit': (
        'Sets best effort maximum number of rows in data page'
    ),
    'execution.parquet.data_pagesize_limit': (
        'Sets best effort maximum size of data page in bytes'
    ),
    'execution.parquet.dictionary_enabled': (
        'Sets if dictionary encoding is enabled. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.dictionary_page_size_limit': (
        'Sets best effort maximum dictionary page size, in bytes'
    ),
    'execution.parquet.enable_page_index': (
        'If true, reads the Parquet data page level metadata (the Page Index), if present, to reduce the I/O and number of rows decoded.'
    ),
    'execution.parquet.encoding': (
        'Sets default encoding for any column Valid values are: plain, plain_dictionary, rle, bit_packed, delta_binary_packed, delta_length_byte_array, delta_byte_array, rle_dictionary, and byte_stream_split. These values are not case sensitive. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.max_row_group_size': (
        'Target maximum number of rows in each row group (defaults to 1M rows). Writing larger row groups requires more memory to write, but can get better compression and be faster to read.'
    ),
    'execution.parquet.max_statistics_size': (
        'Sets max statistics size for any column. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.maximum_buffered_record_batches_per_stream': (
        'By default parallel parquet writer is tuned for minimum memory usage in a streaming execution plan. You may see a performance benefit when writing large parquet files by increasing maximum_parallel_row_group_writers and maximum_buffered_record_batches_per_stream if your system has idle cores and can tolerate additional memory usage. Boosting these values is likely worthwhile when writing out already in-memory data, such as from a cached data frame.'
    ),
    'execution.parquet.maximum_parallel_row_group_writers': (
        'By default parallel parquet writer is tuned for minimum memory usage in a streaming execution plan. You may see a performance benefit when writing large parquet files by increasing maximum_parallel_row_group_writers and maximum_buffered_record_batches_per_stream if your system has idle cores and can tolerate additional memory usage. Boosting these values is likely worthwhile when writing out already in-memory data, such as from a cached data frame.'
    ),
    'execution.parquet.metadata_size_hint': (
        'If specified, the parquet reader will try and fetch the last `size_hint` bytes of the parquet file optimistically. If not specified, two reads are required: One read to fetch the 8-byte parquet footer and another to fetch the metadata length encoded in the footer'
    ),
    'execution.parquet.pruning': (
        'If true, the parquet reader attempts to skip entire row groups based on the predicate in the query and the metadata (min/max values) stored in the parquet file'
    ),
    'execution.parquet.pushdown_filters': (
        'If true, filter expressions are be applied during the parquet decoding operation to reduce the number of rows decoded. This optimization is sometimes called "late materialization".'
    ),
    'execution.parquet.reorder_filters': (
        'If true, filter expressions evaluated during the parquet decoding operation will be reordered heuristically to minimize the cost of evaluation. If false, the filters are applied in the same order as written in the query'
    ),
    'execution.parquet.skip_metadata': (
        'If true, the parquet reader skip the optional embedded metadata that may be in the file Schema. This setting can help avoid schema conflicts when querying multiple parquet files with schemas containing compatible types but different metadata'
    ),
    'execution.parquet.statistics_enabled': (
        'Sets if statistics are enabled for any column Valid values are: "none", "chunk", and "page" These values are not case sensitive. If NULL, uses default parquet writer setting'
    ),
    'execution.parquet.write_batch_size': (
        'Sets write_batch_size in bytes'
    ),
    'execution.parquet.writer_version': (
        'Sets parquet writer version valid values are "1.0" and "2.0"'
    ),
    'execution.planning_concurrency': (
        'Fan-out during initial physical planning. This is mostly use to plan `UNION` children in parallel. Defaults to the number of CPU cores on the system'
    ),
    'execution.soft_max_rows_per_output_file': (
        'Target number of rows in output files when writing multiple. This is a soft max, so it can be exceeded slightly. There also will be one file smaller than the limit if the total number of rows written is not roughly divisible by the soft max'
    ),
    'execution.sort_in_place_threshold_bytes': (
        'When sorting, below what size should data be concatenated and sorted in a single RecordBatch rather than sorted in batches and merged.'
    ),
    'execution.sort_spill_reservation_bytes': (
        "Specifies the reserved memory for each spillable sort operation to facilitate an in-memory merge. When a sort operation spills to disk, the in-memory data must be sorted and merged before being written to a file. This setting reserves a specific amount of memory for that in-memory sort/merge process. Note: This setting is irrelevant if the sort operation cannot spill (i.e., if there's no `DiskManager` configured)."
    ),
    'execution.split_file_groups_by_statistics': (
        'Attempt to eliminate sorts by packing & sorting files with non-overlapping statistics into the same file groups. Currently experimental'
    ),
    'execution.target_partitions': (
        'Number of partitions for query execution. Increasing partitions can increase concurrency. Defaults to the number of CPU cores on the system'
    ),
    'execution.time_zone': (
        'The default time zone Some functions, e.g. `EXTRACT(HOUR from SOME_TIME)`, shift the underlying datetime according to this time zone, and then extract the hour'
    ),
    'explain.logical_plan_only': (
        'When set to true, the explain statement will only print logical plans'
    ),
    'explain.physical_plan_only': (
        'When set to true, the explain statement will only print physical plans'
    ),
    'explain.show_schema': (
        'When set to true, the explain statement will print schema information'
    ),
    'explain.show_sizes': (
        'When set to true, the explain statement will print the partition sizes'
    ),
    'explain.show_statistics': (
        'When set to true, the explain statement will print operator statistics for physical plans'
    ),
    'optimizer.allow_symmetric_joins_without_pruning': (
        'Should DataFusion allow symmetric hash joins for unbounded data sources even when its inputs do not have any ordering or filtering If the flag is not enabled, the SymmetricHashJoin operator will be unable to prune its internal buffers, resulting in certain join types - such as Full, Left, LeftAnti, LeftSemi, Right, RightAnti, and RightSemi - being produced only at the end of the execution. This is not typical in stream processing. Additionally, without proper design for long runner execution, all types of joins may encounter out-of-memory errors.'
    ),
    'optimizer.default_filter_selectivity': (
        'The default filter selectivity used by Filter Statistics when an exact selectivity cannot be determined. Valid values are between 0 (no selectivity) and 100 (all rows are selected).'
    ),
    'optimizer.enable_distinct_aggregation_soft_limit': (
        'When set to true, the optimizer will push a limit operation into grouped aggregations which have no aggregate expressions, as a soft limit, emitting groups once the limit is reached, before all rows in the group are read.'
    ),
    'optimizer.enable_round_robin_repartition': (
        'When set to true, the physical plan optimizer will try to add round robin repartitioning to increase parallelism to leverage more CPU cores'
    ),
    'optimizer.enable_topk_aggregation': (
        'When set to true, the optimizer will attempt to perform limit operations during aggregations, if possible'
    ),
    'optimizer.filter_null_join_keys': (
        'When set to true, the optimizer will insert filters before a join between a nullable and non-nullable column to filter out nulls on the nullable side. This filter can add additional overhead when the file format does not fully support predicate push down.'
    ),
    'optimizer.hash_join_single_partition_threshold': (
        'The maximum estimated size in bytes for one input side of a HashJoin will be collected into a single partition'
    ),
    'optimizer.hash_join_single_partition_threshold_rows': (
        'The maximum estimated size in rows for one input side of a HashJoin will be collected into a single partition'
    ),
    'optimizer.max_passes': (
        'Number of times that the optimizer will attempt to optimize the plan'
    ),
    'optimizer.prefer_existing_sort': (
        'When true, DataFusion will opportunistically remove sorts when the data is already sorted, (i.e. setting `preserve_order` to true on `RepartitionExec`  and using `SortPreservingMergeExec`) When false, DataFusion will maximize plan parallelism using `RepartitionExec` even if this requires subsequently resorting data using a `SortExec`.'
    ),
    'optimizer.prefer_existing_union': (
        'When set to true, the optimizer will not attempt to convert Union to Interleave'
    ),
    'optimizer.prefer_hash_join': (
        'When set to true, the physical plan optimizer will prefer HashJoin over SortMergeJoin. HashJoin can work more efficiently than SortMergeJoin but consumes more memory'
    ),
    'optimizer.repartition_aggregations': (
        'Should DataFusion repartition data using the aggregate keys to execute aggregates in parallel using the provided `target_partitions` level'
    ),
    'optimizer.repartition_file_min_size': (
        'Minimum total files size in bytes to perform file scan repartitioning.'
    ),
    'optimizer.repartition_file_scans': (
        "When set to `true`, file groups will be repartitioned to achieve maximum parallelism. Currently Parquet and CSV formats are supported. If set to `true`, all files will be repartitioned evenly (i.e., a single large file might be partitioned into smaller chunks) for parallel scanning. If set to `false`, different files will be read in parallel, but repartitioning won't happen within a single file."
    ),
    'optimizer.repartition_joins': (
        'Should DataFusion repartition data using the join keys to execute joins in parallel using the provided `target_partitions` level'
    ),
    'optimizer.repartition_sorts': (
        'Should DataFusion execute sorts in a per-partition fashion and merge afterwards instead of coalescing first and sorting globally. With this flag is enabled, plans in the form below ```text      "SortExec: [a@0 ASC]",      "  CoalescePartitionsExec",      "    RepartitionExec: partitioning=RoundRobinBatch(8), input_partitions=1", ``` would turn into the plan below which performs better in multithreaded environments ```text      "SortPreservingMergeExec: [a@0 ASC]",      "  SortExec: [a@0 ASC]",      "    RepartitionExec: partitioning=RoundRobinBatch(8), input_partitions=1", ```'
    ),
    'optimizer.repartition_windows': (
        'Should DataFusion repartition data using the partitions keys to execute window functions in parallel using the provided `target_partitions` level'
    ),
    'optimizer.skip_failed_rules': (
        'When set to true, the logical plan optimizer will produce warning messages if any optimization rules produce errors and then proceed to the next rule. When set to false, any rules that produce errors will cause the query to fail'
    ),
    'optimizer.top_down_join_key_reordering': (
        'When set to true, the physical plan optimizer will run a top down process to reorder the join keys'
    ),
    'sql_parser.dialect': (
        "Configure the SQL dialect used by DataFusion's parser; supported values include: Generic, MySQL, PostgreSQL, Hive, SQLite, Snowflake, Redshift, MsSQL, ClickHouse, BigQuery, and Ansi."
    ),
    'sql_parser.enable_ident_normalization': (
        'When set to true, SQL parser will normalize ident (convert ident to lowercase when not quoted)'
    ),
    'sql_parser.parse_float_as_decimal': (
        'When set to true, SQL parser will parse float as decimal type'
    ),
    'sql_parser.support_varchar_with_length': (
        'If true, permit lengths for `VARCHAR` such as `VARCHAR(20)`, but ignore the length. If false, error if a `VARCHAR` with a length is specified. The Arrow type system does not have a notion of maximum string length and thus DataFusion can not enforce such limits.'
    ),
}


def _normalize_tz(v: str) -> str:
    """'+08' / '+0800' → '+08:00' (the reference's Arrow timezone parser
    accepts these short offset spellings; Spark's ZoneId wants hh:mm)."""
    m = re.fullmatch(r"([+-])(\d{2})(?::?(\d{2}))?", v)
    if m:
        return f"{m.group(1)}{m.group(2)}:{m.group(3) or '00'}"
    return v


class Settings:
    """Per-SessionContext DataFusion-style settings store with Spark
    conf side-effects for the keys that map onto real engine behavior."""

    def __init__(self, spark):
        self.spark = spark
        self._values: dict[str, str | None] = {}
        for key, (default, _typ) in _REGISTRY.items():
            self._values[key] = default(spark) if callable(default) else default

    # -- lookup ----------------------------------------------------------

    @staticmethod
    def _suffix(key: str) -> str:
        """'datafusion.EXECUTION.batch_size' → 'execution.batch_size'
        (key lookup is case-insensitive in the reference)."""
        k = key.lower()
        if not k.startswith("datafusion."):
            raise ValueError(
                "Invalid or Unsupported Configuration: could not find config "
                f'namespace for key "{key}"'
            )
        suffix = k[len("datafusion."):]
        if suffix not in _REGISTRY:
            raise ValueError(
                "Invalid or Unsupported Configuration: could not find config "
                f'namespace for key "{key}"'
            )
        return suffix

    def get(self, key: str) -> str | None:
        return self._values[self._suffix(key)]

    def get_bool(self, key: str) -> bool:
        return self.get(key) == "true"

    def get_int(self, key: str) -> int:
        return int(self.get(key))

    # -- typed parse + set ----------------------------------------------

    def set(self, key: str, raw: str) -> None:
        suffix = self._suffix(key)
        typ = _REGISTRY[suffix][1]
        raw = raw.strip()
        if (raw[:1] in "'\"") and raw[-1:] == raw[:1]:
            raw = raw[1:-1]
        value = self._parse(suffix, typ, raw)
        self._values[suffix] = value
        self._apply(suffix, value)

    @staticmethod
    def _parse(suffix: str, typ: str, raw: str) -> str | None:
        if typ.startswith("opt_") and raw.upper() == "NULL":
            return None
        base = typ.removeprefix("opt_")
        if base == "bool":
            if raw.lower() in ("true", "false"):
                return raw.lower()
            raise ValueError(f"Error parsing {raw} as bool")
        if base == "usize":
            body = raw[1:] if raw[:1] == "+" else raw
            if body.startswith("-"):
                raise ValueError(f"Error parsing {raw} as usize")
            if not body.isdigit():
                if re.fullmatch(r"\d+\.\d+", body):
                    # the reference surfaces the underlying Rust parse error
                    raise ValueError("External error: invalid digit found in string")
                raise ValueError(f"Error parsing {raw} as usize")
            if int(body) > _U64_MAX:
                # Rust's u64::from_str overflows here
                raise ValueError(f"Error parsing {raw} as usize")
            return str(int(body))
        if base == "f64":
            try:
                return str(float(raw))
            except ValueError:
                raise ValueError(f"Error parsing {raw} as f64") from None
        return raw

    # -- Spark conf side-effects ----------------------------------------

    def _apply(self, suffix: str, value: str | None) -> None:
        conf = self.spark.conf
        if suffix == "execution.target_partitions" and int(value) > 0:
            conf.set("spark.sql.shuffle.partitions", value)
        elif suffix == "execution.batch_size" and int(value) > 0:
            conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", value)
        elif suffix == "execution.time_zone":
            try:
                conf.set("spark.sql.session.timeZone", _normalize_tz(value))
            except Exception:
                # the reference accepts the SET and fails at expression
                # evaluation for unparseable zones — keep the stored value
                pass
        elif suffix == "execution.coalesce_batches":
            conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled",
                "true" if value == "true" else "false",
            )
        elif suffix == "optimizer.prefer_hash_join":
            conf.set(
                "spark.sql.join.preferSortMergeJoin",
                "false" if value == "true" else "true",
            )
        elif suffix == "execution.parquet.compression" and value:
            codec = re.sub(r"\(.*\)$", "", value)  # zstd(3) → zstd
            if codec in ("zstd", "snappy", "gzip", "lz4", "brotli", "none",
                         "uncompressed", "lzo"):
                conf.set("spark.sql.parquet.compression.codec",
                         "uncompressed" if codec == "none" else codec)

    # -- display ---------------------------------------------------------

    def rows(self) -> list[tuple[str, str]]:
        """(name, value) rows for SHOW ALL / df_settings — NULL-valued
        options display the string NULL, like the reference."""
        return [
            (f"datafusion.{k}", "NULL" if v is None else v)
            for k, v in sorted(self._values.items())
        ]

    def describe(self, suffix: str) -> str:
        return _DESCRIPTIONS.get(
            suffix, f"DataFusion configuration option datafusion.{suffix}"
        )

    def verbose_rows(self) -> list[tuple[str, str, str]]:
        return [
            (name, value, self.describe(name.removeprefix("datafusion.")))
            for name, value in self.rows()
        ]
