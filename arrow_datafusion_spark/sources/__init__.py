"""File-format sources, the file reader and the file sink.

`avro.py` and `arrow_ipc.py` — Avro container-file and Arrow IPC readers
exposed through the PySpark Python Data Source API (AvroExec / ArrowExec
parity), each with an executor-side writer.

`sink.py` — `write_sink`, the one file writer behind COPY TO, INSERT INTO
an external table and the DataFrame facade (DataSinkExec). A directory
write appends unless told to overwrite; the arrow and avro writers number
new parts from the highest existing part index + 1; every format returns
its row count from the write itself, in the same Spark job.

`listing.py` — `read_listing`, the one file reader behind every
file-backed table (ListingTable) and every parquet read in the engine. A
table's schema is fixed at registration (the declared column list, else
the one read from the files then: a local parquet table's from a footer,
with no Spark job); every re-list reads under it and runs no inference
job, and the frame has that schema's names and types whatever the files
hold. Hive partition values are typed as declared, partition columns last.
"""
